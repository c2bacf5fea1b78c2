"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial-join + dissolve pipeline on
sf0.001. ``queries()`` exposes one entry per implemented operator from
SURVEY.md §2 (plus the training-data-pipeline operators); ``oracle_sql()``
gives the DuckDB-runnable ANSI-SQL twin of each.

Oracle design: the testdata has no geometry columns, so geometry is
synthesized deterministically from integer key columns (FIXTURES.md
pattern). All synthesized coordinates are integers ≤ 1000, so every
measure the oracles check is computed in exact double arithmetic — the
value hashes are bit-stable across engines. Where an operator's math is
inherently float-path-dependent (buffer areas, cosine scores), both sides
round to 6 decimals with error margins ~1e-10, far inside the rounding
grid. Hilbert keys are engine-internal (no plain-SQL twin) and use the
driver's weaker rows-only check.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# Spark python workers must import geopandas_spark too
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
               if p and p != _REPO])

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from geopandas_spark import st
from geopandas_spark.operators import (
    dissolve, explode, overlay, sjoin, sjoin_nearest, clip,
)
from geopandas_spark.pipeline import (
    cosine_topk, exact_dedup, fingerprint, language_id, minhash_lsh_pairs,
    quality_score, token_count,
)
from geopandas_spark.pipeline.dedup import minhash_signatures, simhash64
from geopandas_spark.pipeline.multimodal import decode_images, sample_frames
from geopandas_spark.pipeline.similarity import (
    embedding_dedup_pairs, ivf_topk,
)

# ---------------------------------------------------------------------------
# deterministic geometry synthesis (shared by Spark and the SQL oracles)
# ---------------------------------------------------------------------------
# customer points: integer coords on a 1000×1000 plane
PX = "(c_custkey % 1000)"
PY = "((c_custkey * 7) % 1000)"
# supplier points
SX = "((s_suppkey * 13) % 1000)"
SY = "((s_suppkey * 31) % 1000)"
# nation boxes: 5×5 grid of 200×200 boxes
BX0 = "(200 * (n_nationkey % 5))"
BY0 = "(200 * CAST(FLOOR(n_nationkey / 5.0) AS BIGINT))"


def _t(spark, sf_dir, name) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _cust(spark, sf_dir) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return (c.withColumn("px", F.expr(PX))
             .withColumn("py", F.expr(PY))
             .withColumn("geom", st.point(F.col("px").cast("double"),
                                          F.col("py").cast("double"))))


def _supp(spark, sf_dir) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return (s.withColumn("sx", F.expr(SX))
             .withColumn("sy", F.expr(SY))
             .withColumn("geom", st.point(F.col("sx").cast("double"),
                                          F.col("sy").cast("double"))))


def _nat(spark, sf_dir) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    return (n.withColumn("bx0", F.expr(BX0))
             .withColumn("by0", F.expr(BY0))
             .withColumn("geom", st.makebox(
                 F.col("bx0").cast("double"), F.col("by0").cast("double"),
                 (F.col("bx0") + 200).cast("double"),
                 (F.col("by0") + 200).cast("double"))))


def _cust_supp_lines(spark, sf_dir) -> DataFrame:
    """customer × supplier of the same nation, with a LINESTRING between
    them (WKT-built → exercises the parser).

    Scale band (r12): the plain nation join is QUADRATIC in sf (sf10:
    1.5M × 100k / 25 ≈ 6e9 pairs) — no real per-pair workload grows
    like that, and once the bench started materializing every output
    column (bench._consume) a 6e9-row Python-parse tier stopped being
    a benchmark and became a stress test of patience. Pairs are gated
    on ``(c_custkey + s_suppkey) % mod == 0`` with
    ``mod = max(1, n_supp // 1000)``: a deterministic co-band that
    keeps output ≈ 40 rows per customer (linear in sf) and leaves the
    query bit-identical at sf ≤ 0.1 (mod == 1), so correctness stamps
    and the base tier are unchanged. The oracle SQL computes the same
    mod from COUNT(supplier).

    r13 (guide §3.1): the co-band gate is phrased as an EQUI-join key
    instead of a non-equi condition — for positive keys and mod m > 0,
    (c + s) % m == 0  ⟺  c % m == (m - s % m) % m, so hashing on
    (nationkey, residue) lets the BroadcastHashJoin probe only the ~40
    matching suppliers per customer instead of evaluating the mod
    filter against all ~4000 same-nation suppliers (100x fewer pair
    evaluations at the 100x tier; identical result set — equivalence
    pinned for mod > 1 by
    tests/test_bench_protocol.py::test_coband_residue_join_equivalence,
    and mod == 1 makes both forms the plain nation join)."""
    c = _cust(spark, sf_dir).select("c_custkey", "c_nationkey", "px", "py")
    s = _supp(spark, sf_dir).select("s_suppkey", "s_nationkey", "sx", "sy")
    n_supp = s.count()
    mod = max(1, n_supp // 1000)
    m = F.lit(mod)
    j = c.join(s, (c.c_nationkey == s.s_nationkey) &
               ((c.c_custkey % m) == ((m - s.s_suppkey % m) % m)))
    return j.withColumn("line", st.geom_from_text(_line_wkt()))


def _line_wkt():
    """The WKT expression _cust_supp_lines materializes as ``line``.
    r13: built through ``st.wkt_linestring2`` — the canonical 2-point
    template whose coordinates round-trip bit-exactly through
    string-ization — so ``st.length(st.geom_from_text(_line_wkt()))``
    in q_distance strength-reduces to codegen'd sqrt((px-sx)²+(py-sy)²)
    with no Python evaluation (see st.wkt_linestring2 /
    tests/test_length_linestring2_peephole.py for the bit-exactness
    pin). The parsed ``line`` geometry consumed by q_envelope /
    q_interpolate / q_project / q_line_metrics is byte-identical: the
    token text changes ("1.0" for the former int-concat "1") but the
    parsed double is the same exact value."""
    return st.wkt_linestring2(F.col("px"), F.col("py"),
                              F.col("sx"), F.col("sy"))


# ---------------------------------------------------------------------------
# entry: flagship pipeline
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: spatial join customer points into nation boxes (broadcast
    STRtree-analogue plan), dissolve per nation (union + aggs)."""
    sf_dir = "/root/testdata/sf0.001"
    cust = _cust(spark, sf_dir)
    nat = _nat(spark, sf_dir).select("n_nationkey", "n_name", "geom")
    tagged = sjoin(cust, nat, predicate="intersects", strategy="broadcast")
    dis = dissolve(tagged, ["n_nationkey", "n_name"],
                   {"c_acctbal": "sum", "c_custkey": "count"},
                   geom="geom_left")
    return (dis.select("n_nationkey", "n_name",
                       st.ngeometries("geom_left").alias("n_points"),
                       F.round("c_acctbal_sum", 2).alias("acctbal_sum"),
                       F.col("c_custkey_count").alias("n_customers"))
               .orderBy("n_nationkey"))


# ---------------------------------------------------------------------------
# per-operator queries + oracles
# ---------------------------------------------------------------------------

def q_point_accessors(spark, sf_dir):
    return _cust(spark, sf_dir).select(
        F.col("c_custkey").alias("id"),
        st.x("geom").alias("x"), st.y("geom").alias("y"),
        st.as_text("geom").alias("wkt"))


SQL_POINT_ACCESSORS = f"""
SELECT c_custkey AS id,
       CAST({PX} AS DOUBLE) AS x,
       CAST({PY} AS DOUBLE) AS y,
       'POINT (' || CAST({PX} AS VARCHAR) || ' ' || CAST({PY} AS VARCHAR) || ')' AS wkt
FROM customer
"""


def q_box_measures(spark, sf_dir):
    return _nat(spark, sf_dir).select(
        F.col("n_nationkey").alias("id"),
        st.area("geom").alias("area"),
        st.length("geom").alias("perimeter"),
        st.x(st.centroid("geom")).alias("cx"),
        st.y(st.centroid("geom")).alias("cy"),
        st.x_min("geom").alias("xmin"), st.y_min("geom").alias("ymin"),
        st.x_max("geom").alias("xmax"), st.y_max("geom").alias("ymax"),
        st.npoints("geom").alias("npoints"),
        st.geometry_type("geom").alias("gtype"),
        st.is_valid("geom").alias("valid"),
        st.is_empty("geom").alias("empty"))


SQL_BOX_MEASURES = f"""
SELECT n_nationkey AS id,
       40000.0 AS area,
       800.0 AS perimeter,
       CAST({BX0} + 100 AS DOUBLE) AS cx,
       CAST({BY0} + 100 AS DOUBLE) AS cy,
       CAST({BX0} AS DOUBLE) AS xmin, CAST({BY0} AS DOUBLE) AS ymin,
       CAST({BX0} + 200 AS DOUBLE) AS xmax, CAST({BY0} + 200 AS DOUBLE) AS ymax,
       CAST(5 AS BIGINT) AS npoints,
       'Polygon' AS gtype,
       TRUE AS valid,
       FALSE AS empty
FROM nation
"""


def q_distance(spark, sf_dir):
    j = _cust_supp_lines(spark, sf_dir)
    cpt = st.point(F.col("px").cast("double"), F.col("py").cast("double"))
    spt = st.point(F.col("sx").cast("double"), F.col("sy").cast("double"))
    return j.select(
        F.col("c_custkey").alias("cid"), F.col("s_suppkey").alias("sid"),
        st.distance(cpt, spt).alias("dist"),
        st.length(st.geom_from_text(_line_wkt())).alias("line_len"))


SQL_DISTANCE = f"""
SELECT c_custkey AS cid, s_suppkey AS sid,
       SQRT(CAST(({PX} - {SX}) * ({PX} - {SX}) +
                 ({PY} - {SY}) * ({PY} - {SY}) AS DOUBLE)) AS dist,
       SQRT(CAST(({PX} - {SX}) * ({PX} - {SX}) +
                 ({PY} - {SY}) * ({PY} - {SY}) AS DOUBLE)) AS line_len
FROM customer JOIN supplier ON c_nationkey = s_nationkey
AND (c_custkey + s_suppkey)
    % GREATEST(1, (SELECT COUNT(*) FROM supplier) // 1000) = 0
"""


def q_predicates(spark, sf_dir):
    c = _cust(spark, sf_dir).select("c_custkey", "c_nationkey",
                                    F.col("geom").alias("pt"))
    n = _nat(spark, sf_dir).select("n_nationkey", F.col("geom").alias("box"))
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    return j.select(
        F.col("c_custkey").alias("id"),
        st.contains("box", "pt").alias("c_contains"),
        st.intersects("box", "pt").alias("c_intersects"),
        st.within("pt", "box").alias("p_within"),
        st.disjoint("pt", "box").alias("p_disjoint"),
        st.covers("box", "pt").alias("c_covers"),
        st.dwithin("pt", "box", F.lit(0.0)).alias("p_dwithin0"))


SQL_PREDICATES = f"""
SELECT c_custkey AS id,
       ({PX} > {BX0} AND {PX} < {BX0} + 200 AND
        {PY} > {BY0} AND {PY} < {BY0} + 200) AS c_contains,
       ({PX} >= {BX0} AND {PX} <= {BX0} + 200 AND
        {PY} >= {BY0} AND {PY} <= {BY0} + 200) AS c_intersects,
       ({PX} > {BX0} AND {PX} < {BX0} + 200 AND
        {PY} > {BY0} AND {PY} < {BY0} + 200) AS p_within,
       NOT ({PX} >= {BX0} AND {PX} <= {BX0} + 200 AND
            {PY} >= {BY0} AND {PY} <= {BY0} + 200) AS p_disjoint,
       ({PX} >= {BX0} AND {PX} <= {BX0} + 200 AND
        {PY} >= {BY0} AND {PY} <= {BY0} + 200) AS c_covers,
       ({PX} >= {BX0} AND {PX} <= {BX0} + 200 AND
        {PY} >= {BY0} AND {PY} <= {BY0} + 200) AS p_dwithin0
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


def q_buffer(spark, sf_dir):
    c = _cust(spark, sf_dir)
    buf = st.buffer("geom", F.lit(10.0), quad_segs=16)
    return c.select(
        F.col("c_custkey").alias("id"),
        st.npoints(buf).alias("nv"),
        F.round(st.area(buf), 6).alias("barea"),
        st.contains(buf, "geom").alias("has_center"))


SQL_BUFFER = """
SELECT c_custkey AS id,
       CAST(65 AS BIGINT) AS nv,
       ROUND(3200.0 * SIN(PI() / 32.0), 6) AS barea,
       TRUE AS has_center
FROM customer
"""


def q_convex_hull(spark, sf_dir):
    n = _nat(spark, sf_dir)
    corners = F.concat(
        F.lit("MULTIPOINT (("), F.col("bx0"), F.lit(" "), F.col("by0"),
        F.lit("), ("), F.col("bx0") + 200, F.lit(" "), F.col("by0"),
        F.lit("), ("), F.col("bx0") + 200, F.lit(" "), F.col("by0") + 200,
        F.lit("), ("), F.col("bx0"), F.lit(" "), F.col("by0") + 200,
        F.lit("))"))
    tri = F.concat(F.lit("MULTIPOINT ((0 0), ("), 100 + F.col("n_nationkey"),
                   F.lit(" 0), (0 "), 200 + F.col("n_nationkey"), F.lit("))"))
    return n.select(
        F.col("n_nationkey").alias("id"),
        st.area(st.convex_hull(st.geom_from_text(corners))).alias("hull_area"),
        st.npoints(st.convex_hull(st.geom_from_text(corners))).alias("hull_nv"),
        st.area(st.convex_hull(st.geom_from_text(tri))).alias("tri_area"))


SQL_CONVEX_HULL = """
SELECT n_nationkey AS id,
       40000.0 AS hull_area,
       CAST(5 AS BIGINT) AS hull_nv,
       CAST((100 + n_nationkey) * (200 + n_nationkey) AS DOUBLE) / 2.0 AS tri_area
FROM nation
"""


def q_clip(spark, sf_dir):
    # r13: clip's bbox-prefilter + exact-predicate UDFs see only what we
    # pass; the aggregate below reads only c_nationkey (guide §4.1)
    c = _cust(spark, sf_dir).select("c_nationkey", "geom")
    clipped = clip(c, "POLYGON ((0 0, 500 0, 500 500, 0 500, 0 0))")
    return (clipped.groupBy("c_nationkey")
            .agg(F.count("*").alias("n"))
            .select(F.col("c_nationkey").alias("nationkey"), "n"))


SQL_CLIP = f"""
SELECT c_nationkey AS nationkey, COUNT(*) AS n
FROM customer
WHERE {PX} <= 500 AND {PY} <= 500
GROUP BY c_nationkey
"""


def q_affine(spark, sf_dir):
    c = _cust(spark, sf_dir)
    g = st.scale(st.translate("geom", F.lit(10.0), F.lit(20.0)), 2.0, 3.0)
    return c.select(F.col("c_custkey").alias("id"),
                    st.x(g).alias("tx"), st.y(g).alias("ty"))


SQL_AFFINE = f"""
SELECT c_custkey AS id,
       CAST(2 * ({PX} + 10) AS DOUBLE) AS tx,
       CAST(3 * ({PY} + 20) AS DOUBLE) AS ty
FROM customer
"""


def q_sjoin(spark, sf_dir):
    # r13: project the probe side to (payload, geom) BEFORE sjoin — the
    # pair-generating mapInArrow is opaque to Catalyst, so every column
    # passed in is shipped JVM→Python→JVM per emitted pair (guide §4.1);
    # the aggregate below reads only c_acctbal and the right-side key
    cust = _cust(spark, sf_dir).select("c_acctbal", "geom")
    nat = _nat(spark, sf_dir).select("n_nationkey", "geom")
    j = sjoin(cust, nat, predicate="intersects", strategy="broadcast")
    return (j.groupBy("n_nationkey")
             .agg(F.count("*").alias("n"),
                  F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
                  .cast("double").alias("acct_sum"))
             .select(F.col("n_nationkey").alias("nationkey"), "n", "acct_sum"))


SQL_SJOIN = f"""
SELECT n_nationkey AS nationkey, COUNT(*) AS n,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acct_sum
FROM customer JOIN nation
  ON {PX} >= {BX0} AND {PX} <= {BX0} + 200
 AND {PY} >= {BY0} AND {PY} <= {BY0} + 200
GROUP BY n_nationkey
"""


def q_sjoin_grid(spark, sf_dir):
    # r13: geom-only probe side — the grid pair generator ships every
    # input column through Python per candidate pair (guide §4.1), and
    # this aggregate touches nothing from the left frame
    cust = _cust(spark, sf_dir).select("c_custkey", "geom")
    nat = _nat(spark, sf_dir).select("n_nationkey", "geom")
    j = sjoin(cust, nat, predicate="intersects", strategy="grid")
    return (j.groupBy("n_nationkey").agg(F.count("*").alias("n"))
             .select(F.col("n_nationkey").alias("nationkey"), "n"))


SQL_SJOIN_GRID = f"""
SELECT n_nationkey AS nationkey, COUNT(*) AS n
FROM customer JOIN nation
  ON {PX} >= {BX0} AND {PX} <= {BX0} + 200
 AND {PY} >= {BY0} AND {PY} <= {BY0} + 200
GROUP BY n_nationkey
"""


def q_sjoin_nearest(spark, sf_dir):
    # r13: project the probe side first — the nearest pair generator is
    # opaque to Catalyst (guide §4.1); output reads only (cid, sid, dist)
    cust = _cust(spark, sf_dir).select("c_custkey", "geom")
    supp = _supp(spark, sf_dir).select("s_suppkey", "geom")
    j = sjoin_nearest(cust, supp, distance_col="dist")
    return j.select(F.col("c_custkey").alias("cid"),
                    F.col("s_suppkey").alias("sid"), F.col("dist"))


SQL_SJOIN_NEAREST = f"""
WITH d AS (
  SELECT c_custkey AS cid, s_suppkey AS sid,
         SQRT(CAST(({PX} - {SX}) * ({PX} - {SX}) +
                   ({PY} - {SY}) * ({PY} - {SY}) AS DOUBLE)) AS dist
  FROM customer CROSS JOIN supplier
), m AS (
  SELECT cid, MIN(dist) AS mind FROM d GROUP BY cid
)
SELECT d.cid, d.sid, d.dist
FROM d JOIN m ON d.cid = m.cid AND d.dist = m.mind
"""

def q_sjoin_nearest_xr(spark, sf_dir):
    """Unbounded large×large nearest: exact expanding-radius rounds over
    the grid dwithin argmin (operators/sjoin.py
    _sjoin_nearest_grid_expanding) — no max_distance, no collected side;
    matched rows leave the loop, the rest retry at 4r up to the combined
    bounds diagonal. Must equal the full-cross argmin oracle exactly."""
    cust = _cust(spark, sf_dir).select("c_custkey", "geom")
    supp = _supp(spark, sf_dir).select("s_suppkey", "geom")
    j = sjoin_nearest(cust, supp, distance_col="dist", strategy="grid")
    return j.select(F.col("c_custkey").alias("cid"),
                    F.col("s_suppkey").alias("sid"), F.col("dist"))


def q_sjoin_nearest_grid(spark, sf_dir):
    """Large x large nearest path: grid dwithin candidates + distributed
    argmin — no collected side (the broadcast variant above is the
    reference's single-STRtree shape)."""
    cust = _cust(spark, sf_dir).select("c_custkey", "geom")
    supp = _supp(spark, sf_dir).select("s_suppkey", "geom")
    j = sjoin_nearest(cust, supp, distance_col="dist", max_distance=100.0,
                      strategy="grid")
    return j.select(F.col("c_custkey").alias("cid"),
                    F.col("s_suppkey").alias("sid"), F.col("dist"))


SQL_SJOIN_NEAREST_GRID = f"""
WITH d AS (
  SELECT c_custkey AS cid, s_suppkey AS sid,
         SQRT(CAST(({PX} - {SX}) * ({PX} - {SX}) +
                   ({PY} - {SY}) * ({PY} - {SY}) AS DOUBLE)) AS dist
  FROM customer CROSS JOIN supplier
), m AS (
  SELECT cid, MIN(dist) AS mind FROM d GROUP BY cid
)
SELECT d.cid, d.sid, d.dist
FROM d JOIN m ON d.cid = m.cid AND d.dist = m.mind
WHERE m.mind <= 100
"""


def q_dissolve(spark, sf_dir):
    cust = _cust(spark, sf_dir)
    dis = dissolve(cust, "c_nationkey", {"c_acctbal": "sum"})
    return dis.select(
        F.col("c_nationkey").alias("nationkey"),
        st.ngeometries("geom").alias("n_distinct_pts"),
        F.round("c_acctbal_sum", 2).alias("acct_sum"))


SQL_DISSOLVE = f"""
SELECT c_nationkey AS nationkey,
       COUNT(DISTINCT {PX} * 1000 + {PY}) AS n_distinct_pts,
       ROUND(SUM(c_acctbal), 2) AS acct_sum
FROM customer
GROUP BY c_nationkey
"""


def q_union_boxes(spark, sf_dir):
    # 199-wide boxes: pairwise disjoint (not even touching) → union is the
    # exact disjoint MultiPolygon
    n = _nat(spark, sf_dir)
    g = st.makebox(F.col("bx0").cast("double"), F.col("by0").cast("double"),
                   (F.col("bx0") + 199).cast("double"),
                   (F.col("by0") + 199).cast("double"))
    u = (n.select(g.alias("geom"))
          .agg(st.union_agg("geom").alias("u")))
    return u.select(st.ngeometries("u").alias("n_parts"),
                    st.area("u").alias("total_area"))


SQL_UNION_BOXES = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(*) * 199 * 199 AS DOUBLE) AS total_area
FROM nation
"""


_EPSG_TABLE_REGIONS = [
    # (code, lon_base, lon_span, lat_base, lat_span,
    #  anchor_lon, anchor_lat, anchor_e, anchor_n)
    (4527, 115.5, 3.0, 30.0, 15.0, 117.0, 0.0, 39500000.0, 0.0),
    (4546, 109.5, 3.0, 20.0, 15.0, 111.0, 0.0, 500000.0, 0.0),
    # 28407 is datum-shifted: round-trip check only, no anchor
    (28407, 36.0, 6.0, 45.0, 15.0, 39.0, 0.0, 0.0, 0.0),
    (28354, 138.0, 6.0, -40.0, 18.0, 141.0, 0.0, 500000.0, 10000000.0),
    (7850, 114.0, 6.0, -36.0, 14.0, 117.0, 0.0, 500000.0, 10000000.0),
    (3006, 11.0, 8.0, 55.0, 13.0, 15.0, 0.0, 500000.0, 0.0),
    # RGF93 / CC46 (r5 zone-arithmetic LCC range 3942-3950); the LCC
    # false origin (lon0, lat0) -> (FE, FN) is exact in the 2SP form
    (3946, 1.0, 4.5, 45.1, 1.8, 3.0, 46.0, 1700000.0, 5200000.0),
]


def q_to_crs_epsg_table(spark, sf_dir):
    """General to_crs: the r5 mechanical EPSG ranges (geom/crs.py
    _proj_def) — CGCS2000 3° Gauss-Krüger zones (4513-4533 zoned +
    4534-4554 CM), Pulkovo 1942 6° GK zones (28402-28432, Krassowsky +
    EPSG-1254 shift), GDA94/GDA2020 MGA (28348-28358 / 7846-7859),
    SWEREF99 TM (3006). Oracle = round-trip identity over each code's
    home region plus the central-meridian/equator anchor
    ((cm, 0) -> (FE, FN), exact in the TM closed form for the
    no-datum-shift codes; the Pulkovo anchor is datum-shifted and
    checked by round trip only)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    sel = (k % 7).cast("int")
    u = (k % 90).cast("double") / F.lit(90.0)
    v = ((k * 11) % 90).cast("double") / F.lit(90.0)
    lon = F.lit(0.0)
    lat = F.lit(0.0)
    for j, (code, lo0, spx, la0, spy, alon, alat, ae_, an_) in \
            enumerate(_EPSG_TABLE_REGIONS):
        lon = F.when(sel == j, F.lit(lo0) + u * F.lit(spx)).otherwise(lon)
        lat = F.when(sel == j, F.lit(la0) + v * F.lit(spy)).otherwise(lat)
    g = st.point(lon, lat)
    back = g
    ax = F.lit(0.0)
    ay = F.lit(0.0)
    for j, (code, lo0, spx, la0, spy, alon, alat, ae_, an_) in \
            enumerate(_EPSG_TABLE_REGIONS):
        crs = f"EPSG:{code}"
        rt = st.to_crs(st.to_crs(g, "EPSG:4326", crs), crs, "EPSG:4326")
        back = F.when(sel == j, rt).otherwise(back)
        if ae_ or an_:
            ap = st.to_crs(st.point(F.lit(alon), F.lit(alat)),
                           "EPSG:4326", crs)
            ax = F.when(sel == j, st.x(ap)).otherwise(ax)
            ay = F.when(sel == j, st.y(ap)).otherwise(ay)
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"),
        F.round(ax, 4).alias("anchor_e"),
        F.round(ay, 4).alias("anchor_n"))


SQL_TO_CRS_EPSG_TABLE = """
SELECT c_custkey AS id,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 115.5 + (c_custkey % 90) / 90.0 * 3.0
         WHEN 1 THEN 109.5 + (c_custkey % 90) / 90.0 * 3.0
         WHEN 2 THEN 36.0 + (c_custkey % 90) / 90.0 * 6.0
         WHEN 3 THEN 138.0 + (c_custkey % 90) / 90.0 * 6.0
         WHEN 4 THEN 114.0 + (c_custkey % 90) / 90.0 * 6.0
         WHEN 5 THEN 11.0 + (c_custkey % 90) / 90.0 * 8.0
         ELSE 1.0 + (c_custkey % 90) / 90.0 * 4.5 END, 5) AS rlon,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 30.0 + (c_custkey * 11 % 90) / 90.0 * 15.0
         WHEN 1 THEN 20.0 + (c_custkey * 11 % 90) / 90.0 * 15.0
         WHEN 2 THEN 45.0 + (c_custkey * 11 % 90) / 90.0 * 15.0
         WHEN 3 THEN -40.0 + (c_custkey * 11 % 90) / 90.0 * 18.0
         WHEN 4 THEN -36.0 + (c_custkey * 11 % 90) / 90.0 * 14.0
         WHEN 5 THEN 55.0 + (c_custkey * 11 % 90) / 90.0 * 13.0
         ELSE 45.1 + (c_custkey * 11 % 90) / 90.0 * 1.8 END, 5) AS rlat,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 39500000.0
         WHEN 2 THEN 0.0
         WHEN 6 THEN 1700000.0
         ELSE 500000.0 END, 4) AS anchor_e,
       ROUND(CASE c_custkey % 7
         WHEN 3 THEN 10000000.0
         WHEN 4 THEN 10000000.0
         WHEN 6 THEN 5200000.0
         ELSE 0.0 END, 4) AS anchor_n
FROM customer
"""


_WKT2_UTM32N = """PROJCRS["ETRS89 / UTM zone 32N",
  BASEGEOGCRS["ETRS89",
    DATUM["European Terrestrial Reference System 1989",
      ELLIPSOID["GRS 1980",6378137,298.257222101]],
    ANGLEUNIT["degree",0.0174532925199433]],
  CONVERSION["UTM zone 32N",
    METHOD["Transverse Mercator",ID["EPSG",9807]],
    PARAMETER["Latitude of natural origin",0],
    PARAMETER["Longitude of natural origin",9],
    PARAMETER["Scale factor at natural origin",0.9996],
    PARAMETER["False easting",500000],
    PARAMETER["False northing",0]],
  CS[Cartesian,2],AXIS["(E)",east],AXIS["(N)",north],
  LENGTHUNIT["metre",1]]"""

# (crs_text, lon_base, lon_span, lat_base, lat_span,
#  anchor_lon, anchor_lat, anchor_e, anchor_n)  — anchor (0,0,0,0) = none
_PARSER_CRS_BRANCHES = [
    # r7 parser surface: _EPSG_EXTRA data codes ...
    ("EPSG:2163", -120.0, 40.0, 28.0, 20.0, -100.0, 45.0, 0.0, 0.0,
     True),                          # sphere LAEA: ballpark datum step
    ("EPSG:9311", -118.0, 38.0, 27.0, 20.0, -100.0, 45.0, 0.0, 0.0,
     True),
    ("EPSG:23032", 6.0, 6.0, 40.0, 15.0, 0.0, 0.0, 0.0, 0.0, False),
    ("EPSG:31983", -48.0, 6.0, -25.0, 20.0, -45.0, 0.0, 500000.0,
     10000000.0, True),
    ("EPSG:27572", -2.0, 8.0, 44.0, 5.0, 0.0, 0.0, 0.0, 0.0, False),
    ("EPSG:29902", -10.0, 4.0, 51.5, 3.5, 0.0, 0.0, 0.0, 0.0, False),
    ("EPSG:2100", 20.0, 6.0, 35.0, 6.0, 0.0, 0.0, 0.0, 0.0, False),
    ("EPSG:3112", 116.0, 34.0, -40.0, 28.0, 134.0, 0.0, 0.0, 0.0, True),
    ("EPSG:6933", -170.0, 340.0, -80.0, 160.0, 0.0, 0.0, 0.0, 0.0,
     False),
    # ... ESRI authority (sphere Mollweide: closed-form pole constant)
    ("ESRI:54009", -170.0, 340.0, -80.0, 160.0, 0.0, 90.0, 0.0,
     9020047.8481, True),
    # ... a raw PROJ pipeline string (MODIS sphere sinusoidal)
    ("+proj=sinu +lon_0=0 +x_0=0 +y_0=0 +a=6371007.181 +b=6371007.181",
     -170.0, 340.0, -80.0, 160.0, 0.0, 45.0, 0.0, 5003777.3389, True),
    # ... WKT2 CRS text (must agree with the EPSG:25832 kernel)
    (_WKT2_UTM32N, 6.0, 6.0, 40.0, 20.0, 9.0, 0.0, 500000.0, 0.0, True),
    # ... and a urn:ogc OGC-authority source (CRS84 == lon/lat WGS84)
    ("urn:ogc:def:crs:OGC:1.3:CRS84", -170.0, 340.0, -80.0, 160.0,
     180.0, 0.0, 20037508.3428, 0.0, True),
]


def q_to_crs_parser(spark, sf_dir):
    """General to_crs through every r7 parser entry form (reference
    geopandas/array.py:1098-1187 accepts any pyproj CRS input): the
    _EPSG_EXTRA data-driven codes (sphere LAEA 2163/9311, ED50/UTM,
    SIRGAS UTM, NTF Lambert w/ Paris meridian, Irish Grid, GGRS87,
    GDA94 Lambert, EASE-Grid 2.0 CEA), an ESRI authority code (World
    Mollweide), a raw PROJ pipeline string (MODIS sphere sinusoidal), a
    WKT2 PROJCRS text, and a urn:ogc OGC-authority CRS84.  Oracle =
    round-trip identity (closure <1e-9 deg; sphere CRSs take PROJ's
    ballpark pass-through datum step — the geocentric-XYZ bug fixed in
    r8 made these ~21 km wrong) plus closed-form anchors: LAEA origin
    -> (0,0), UTM CM -> (FE, FN), Mollweide pole y = sqrt(2)*R,
    sinusoidal (0,45) -> pi/4*R, web-mercator antimeridian."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    n = len(_PARSER_CRS_BRANCHES)
    sel = (k % n).cast("int")
    u = (k % 90).cast("double") / F.lit(90.0)
    v = ((k * 11) % 90).cast("double") / F.lit(90.0)
    lon = F.lit(0.0)
    lat = F.lit(0.0)
    for j, (_crs, lo0, spx, la0, spy, *_a) in \
            enumerate(_PARSER_CRS_BRANCHES):
        lon = F.when(sel == j, F.lit(lo0) + u * F.lit(spx)).otherwise(lon)
        lat = F.when(sel == j, F.lit(la0) + v * F.lit(spy)).otherwise(lat)
    g = st.point(lon, lat)
    back = g
    ax = F.lit(0.0)
    ay = F.lit(0.0)
    for j, (crs, lo0, spx, la0, spy, alon, alat, ae_, an_, has_a) in \
            enumerate(_PARSER_CRS_BRANCHES):
        if crs.startswith("urn:"):
            rt = st.to_crs(st.to_crs(g, crs, "EPSG:3857"),
                           "EPSG:3857", "EPSG:4326")
            ap = st.to_crs(st.point(F.lit(alon), F.lit(alat)),
                           crs, "EPSG:3857")
        else:
            rt = st.to_crs(st.to_crs(g, "EPSG:4326", crs),
                           crs, "EPSG:4326")
            ap = st.to_crs(st.point(F.lit(alon), F.lit(alat)),
                           "EPSG:4326", crs)
        back = F.when(sel == j, rt).otherwise(back)
        if has_a:
            ax = F.when(sel == j, st.x(ap)).otherwise(ax)
            ay = F.when(sel == j, st.y(ap)).otherwise(ay)
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"),
        (F.round(ax, 4) + F.lit(0.0)).alias("anchor_e"),
        (F.round(ay, 4) + F.lit(0.0)).alias("anchor_n"))


SQL_TO_CRS_PARSER = """
SELECT c_custkey AS id,
       ROUND(CASE c_custkey % 13
         WHEN 0 THEN -120.0 + (c_custkey % 90) / 90.0 * 40.0
         WHEN 1 THEN -118.0 + (c_custkey % 90) / 90.0 * 38.0
         WHEN 2 THEN 6.0 + (c_custkey % 90) / 90.0 * 6.0
         WHEN 3 THEN -48.0 + (c_custkey % 90) / 90.0 * 6.0
         WHEN 4 THEN -2.0 + (c_custkey % 90) / 90.0 * 8.0
         WHEN 5 THEN -10.0 + (c_custkey % 90) / 90.0 * 4.0
         WHEN 6 THEN 20.0 + (c_custkey % 90) / 90.0 * 6.0
         WHEN 7 THEN 116.0 + (c_custkey % 90) / 90.0 * 34.0
         WHEN 8 THEN -170.0 + (c_custkey % 90) / 90.0 * 340.0
         WHEN 9 THEN -170.0 + (c_custkey % 90) / 90.0 * 340.0
         WHEN 10 THEN -170.0 + (c_custkey % 90) / 90.0 * 340.0
         WHEN 11 THEN 6.0 + (c_custkey % 90) / 90.0 * 6.0
         ELSE -170.0 + (c_custkey % 90) / 90.0 * 340.0 END, 5) AS rlon,
       ROUND(CASE c_custkey % 13
         WHEN 0 THEN 28.0 + (c_custkey * 11 % 90) / 90.0 * 20.0
         WHEN 1 THEN 27.0 + (c_custkey * 11 % 90) / 90.0 * 20.0
         WHEN 2 THEN 40.0 + (c_custkey * 11 % 90) / 90.0 * 15.0
         WHEN 3 THEN -25.0 + (c_custkey * 11 % 90) / 90.0 * 20.0
         WHEN 4 THEN 44.0 + (c_custkey * 11 % 90) / 90.0 * 5.0
         WHEN 5 THEN 51.5 + (c_custkey * 11 % 90) / 90.0 * 3.5
         WHEN 6 THEN 35.0 + (c_custkey * 11 % 90) / 90.0 * 6.0
         WHEN 7 THEN -40.0 + (c_custkey * 11 % 90) / 90.0 * 28.0
         WHEN 8 THEN -80.0 + (c_custkey * 11 % 90) / 90.0 * 160.0
         WHEN 9 THEN -80.0 + (c_custkey * 11 % 90) / 90.0 * 160.0
         WHEN 10 THEN -80.0 + (c_custkey * 11 % 90) / 90.0 * 160.0
         WHEN 11 THEN 40.0 + (c_custkey * 11 % 90) / 90.0 * 20.0
         ELSE -80.0 + (c_custkey * 11 % 90) / 90.0 * 160.0 END, 5)
         AS rlat,
       CASE c_custkey % 13
         WHEN 3 THEN 500000.0
         WHEN 11 THEN 500000.0
         WHEN 12 THEN 20037508.3428
         ELSE 0.0 END AS anchor_e,
       CASE c_custkey % 13
         WHEN 3 THEN 10000000.0
         WHEN 9 THEN 9020047.8481
         WHEN 10 THEN 5003777.3389
         ELSE 0.0 END AS anchor_n
FROM customer
"""


_EPSG_JP_SPCS_REGIONS = [
    # (code, lon_base, lon_span, lat_base, lat_span,
    #  anchor_lon, anchor_lat, anchor_e, anchor_n)
    (6677, 139.0, 1.6, 35.0, 2.0, 139.0 + 50.0 / 60, 36.0, 0.0, 0.0),
    (6673, 133.6, 1.5, 34.2, 1.6, 134.0 + 20.0 / 60, 36.0, 0.0, 0.0),
    (6687, 153.5, 1.0, 24.0, 3.0, 154.0, 26.0, 0.0, 0.0),
    (2444, 130.2, 1.6, 32.0, 2.0, 131.0, 33.0, 0.0, 0.0),
    (26930, -88.5, 2.0, 30.0, 3.5, -87.5, 30.0, 600000.0, 0.0),
    (26948, -111.0, 1.5, 31.0, 4.0, -(110.0 + 10.0 / 60), 31.0,
     213360.0, 0.0),
    (26973, -86.5, 1.6, 37.5, 3.5, -(85.0 + 40.0 / 60), 37.5,
     100000.0, 250000.0),
]


def q_to_crs_jp_spcs(spark, sf_dir):
    """to_crs through the r6 data-table codes (geom/crs.py _JPRCS /
    _SPCS_TM): Japan Plane Rectangular CS zones V/IX/XIX on both JGD
    datums (EPSG 2444, 6673, 6677, 6687) and the NAD83 State Plane TM
    zones AL-W / AZ-E / IN-E (26930, 26948, 26973 — nonzero FN and the
    international-foot 213360 m FE). Oracle = round-trip identity over
    each code's home region plus the projection-origin anchor
    ((lon0, lat0) -> (FE, FN), exact in the TM closed form; the JP zones
    have FE = FN = 0, so the anchor also pins the origin mapping).
    Anchors are always COMPUTED through to_crs (never constant-folded on
    the Spark side), and +0.0 normalizes any signed zero."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    sel = (k % 7).cast("int")
    u = (k % 90).cast("double") / F.lit(90.0)
    v = ((k * 11) % 90).cast("double") / F.lit(90.0)
    lon = F.lit(0.0)
    lat = F.lit(0.0)
    for j, (code, lo0, spx, la0, spy, *_a) in \
            enumerate(_EPSG_JP_SPCS_REGIONS):
        lon = F.when(sel == j, F.lit(lo0) + u * F.lit(spx)).otherwise(lon)
        lat = F.when(sel == j, F.lit(la0) + v * F.lit(spy)).otherwise(lat)
    g = st.point(lon, lat)
    back = g
    ax = F.lit(0.0)
    ay = F.lit(0.0)
    for j, (code, lo0, spx, la0, spy, alon, alat, ae_, an_) in \
            enumerate(_EPSG_JP_SPCS_REGIONS):
        crs = f"EPSG:{code}"
        rt = st.to_crs(st.to_crs(g, "EPSG:4326", crs), crs, "EPSG:4326")
        back = F.when(sel == j, rt).otherwise(back)
        ap = st.to_crs(st.point(F.lit(alon), F.lit(alat)), "EPSG:4326", crs)
        ax = F.when(sel == j, st.x(ap)).otherwise(ax)
        ay = F.when(sel == j, st.y(ap)).otherwise(ay)
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"),
        (F.round(ax, 4) + F.lit(0.0)).alias("anchor_e"),
        (F.round(ay, 4) + F.lit(0.0)).alias("anchor_n"))


SQL_TO_CRS_JP_SPCS = """
SELECT c_custkey AS id,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 139.0 + (c_custkey % 90) / 90.0 * 1.6
         WHEN 1 THEN 133.6 + (c_custkey % 90) / 90.0 * 1.5
         WHEN 2 THEN 153.5 + (c_custkey % 90) / 90.0 * 1.0
         WHEN 3 THEN 130.2 + (c_custkey % 90) / 90.0 * 1.6
         WHEN 4 THEN -88.5 + (c_custkey % 90) / 90.0 * 2.0
         WHEN 5 THEN -111.0 + (c_custkey % 90) / 90.0 * 1.5
         ELSE -86.5 + (c_custkey % 90) / 90.0 * 1.6 END, 5) AS rlon,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 35.0 + (c_custkey * 11 % 90) / 90.0 * 2.0
         WHEN 1 THEN 34.2 + (c_custkey * 11 % 90) / 90.0 * 1.6
         WHEN 2 THEN 24.0 + (c_custkey * 11 % 90) / 90.0 * 3.0
         WHEN 3 THEN 32.0 + (c_custkey * 11 % 90) / 90.0 * 2.0
         WHEN 4 THEN 30.0 + (c_custkey * 11 % 90) / 90.0 * 3.5
         WHEN 5 THEN 31.0 + (c_custkey * 11 % 90) / 90.0 * 4.0
         ELSE 37.5 + (c_custkey * 11 % 90) / 90.0 * 3.5 END, 5) AS rlat,
       ROUND(CASE c_custkey % 7
         WHEN 4 THEN 600000.0
         WHEN 5 THEN 213360.0
         WHEN 6 THEN 100000.0
         ELSE 0.0 END, 4) AS anchor_e,
       ROUND(CASE c_custkey % 7
         WHEN 6 THEN 250000.0
         ELSE 0.0 END, 4) AS anchor_n
FROM customer
"""


_EPSG_NATL_REGIONS = [
    # (code, lon_base, lon_span, lat_base, lat_span,
    #  anchor_lon, anchor_lat, anchor_e, anchor_n)
    (5186, 126.8, 1.2, 33.1, 5.5, 127.0, 38.0, 200000.0, 600000.0),
    (2039, 34.3, 1.5, 29.5, 3.6, 35.0 + 12.0 / 60 + 16.261 / 3600,
     31.0 + 44.0 / 60 + 3.817 / 3600, 219529.584, 626907.39),
    (3346, 21.0, 5.8, 53.9, 2.5, 24.0, 0.0, 500000.0, 0.0),
    (3414, 103.6, 0.5, 1.15, 0.35, 103.0 + 50.0 / 60,
     1.0 + 22.0 / 60 + 2.9154 / 3600, 28001.642, 38744.572),
    (3301, 21.8, 6.3, 57.5, 2.2, 24.0,
     57.0 + 31.0 / 60 + 3.19415 / 3600, 500000.0, 6375000.0),
    (3416, 9.5, 7.6, 46.4, 2.6, 13.0 + 20.0 / 60, 47.5,
     400000.0, 400000.0),
    # POSGAR 98 faja 5 (GK from the south pole): origin degenerates at
    # the pole, so the anchor is (CM, equator) -> (FE, quarter meridian)
    # — 10001965.7292 is the GRS80 quarter meridian, exact in the
    # closed-form meridian arc
    (22175, -61.4, 2.7, -41.0, 14.0, -60.0, 0.0,
     5500000.0, 10001965.7292),
]


def q_to_crs_natl(spark, sf_dir):
    """to_crs through the r6 national data-table codes (geom/crs.py
    _NATL_TM + Estonia/Austria LCC + POSGAR ranges): Korea 2000 Central
    Belt (5186), Israeli TM Grid (2039, k0 1.0000067), LKS94 (3346),
    SVY21 Singapore (3414), L-EST97 (3301, LCC-2SP), Austria Lambert
    (3416), POSGAR 98 faja 5 (22175, Gauss-Krüger from the south pole).
    Oracle = round-trip identity over each code's home region plus a
    projection anchor computed THROUGH to_crs (origin -> (FE, FN) for
    the TM/LCC codes; (CM, equator) -> (FE, quarter meridian) for
    POSGAR). Same technique as q_to_crs_jp_spcs."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    sel = (k % 7).cast("int")
    u = (k % 90).cast("double") / F.lit(90.0)
    v = ((k * 11) % 90).cast("double") / F.lit(90.0)
    lon = F.lit(0.0)
    lat = F.lit(0.0)
    for j, (code, lo0, spx, la0, spy, *_a) in \
            enumerate(_EPSG_NATL_REGIONS):
        lon = F.when(sel == j, F.lit(lo0) + u * F.lit(spx)).otherwise(lon)
        lat = F.when(sel == j, F.lit(la0) + v * F.lit(spy)).otherwise(lat)
    g = st.point(lon, lat)
    back = g
    ax = F.lit(0.0)
    ay = F.lit(0.0)
    for j, (code, lo0, spx, la0, spy, alon, alat, ae_, an_) in \
            enumerate(_EPSG_NATL_REGIONS):
        crs = f"EPSG:{code}"
        rt = st.to_crs(st.to_crs(g, "EPSG:4326", crs), crs, "EPSG:4326")
        back = F.when(sel == j, rt).otherwise(back)
        ap = st.to_crs(st.point(F.lit(alon), F.lit(alat)), "EPSG:4326", crs)
        ax = F.when(sel == j, st.x(ap)).otherwise(ax)
        ay = F.when(sel == j, st.y(ap)).otherwise(ay)
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"),
        (F.round(ax, 4) + F.lit(0.0)).alias("anchor_e"),
        (F.round(ay, 4) + F.lit(0.0)).alias("anchor_n"))


SQL_TO_CRS_NATL = """
SELECT c_custkey AS id,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 126.8 + (c_custkey % 90) / 90.0 * 1.2
         WHEN 1 THEN 34.3 + (c_custkey % 90) / 90.0 * 1.5
         WHEN 2 THEN 21.0 + (c_custkey % 90) / 90.0 * 5.8
         WHEN 3 THEN 103.6 + (c_custkey % 90) / 90.0 * 0.5
         WHEN 4 THEN 21.8 + (c_custkey % 90) / 90.0 * 6.3
         WHEN 5 THEN 9.5 + (c_custkey % 90) / 90.0 * 7.6
         ELSE -61.4 + (c_custkey % 90) / 90.0 * 2.7 END, 5) AS rlon,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 33.1 + (c_custkey * 11 % 90) / 90.0 * 5.5
         WHEN 1 THEN 29.5 + (c_custkey * 11 % 90) / 90.0 * 3.6
         WHEN 2 THEN 53.9 + (c_custkey * 11 % 90) / 90.0 * 2.5
         WHEN 3 THEN 1.15 + (c_custkey * 11 % 90) / 90.0 * 0.35
         WHEN 4 THEN 57.5 + (c_custkey * 11 % 90) / 90.0 * 2.2
         WHEN 5 THEN 46.4 + (c_custkey * 11 % 90) / 90.0 * 2.6
         ELSE -41.0 + (c_custkey * 11 % 90) / 90.0 * 14.0 END, 5) AS rlat,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 200000.0
         WHEN 1 THEN 219529.584
         WHEN 2 THEN 500000.0
         WHEN 3 THEN 28001.642
         WHEN 4 THEN 500000.0
         WHEN 5 THEN 400000.0
         ELSE 5500000.0 END, 4) AS anchor_e,
       ROUND(CASE c_custkey % 7
         WHEN 0 THEN 600000.0
         WHEN 1 THEN 626907.39
         WHEN 2 THEN 0.0
         WHEN 3 THEN 38744.572
         WHEN 4 THEN 6375000.0
         WHEN 5 THEN 400000.0
         ELSE 10001965.7292 END, 4) AS anchor_n
FROM customer
"""


def q_chunk_docs(spark, sf_dir):
    """Document chunking (pipeline/text.py chunk_documents): overlapping
    whitespace-token windows (64 tokens, stride 48) — the pretraining
    chunker ahead of sequence packing. Pure native plan (split +
    sequence + posexplode + slice + array_join), map-only, no shuffle;
    the 1->N fan-out happens inside the scan stage. Oracle mirrors the
    formula with DuckDB list functions; empty docs keep one empty chunk
    so no document silently disappears."""
    from geopandas_spark.pipeline.text import chunk_documents
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300) \
        .select("doc_id", "text")
    out = chunk_documents(d, "text", chunk_tokens=64, stride=48)
    return out.select(F.col("doc_id").alias("id"), "chunk_id",
                      "tok_start", "chunk_text", "chunk_tokens")


SQL_CHUNK_DOCS = """
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
  FROM documents WHERE doc_id < 300
), c AS (
  SELECT doc_id, toks,
         GREATEST(CAST(CEIL((len(toks) - 64) / 48.0) AS INTEGER) + 1, 1)
           AS nc
  FROM t
)
SELECT doc_id AS id,
       CAST(u.chunk_id AS INTEGER) AS chunk_id,
       CAST(u.chunk_id * 48 AS INTEGER) AS tok_start,
       array_to_string(list_slice(toks, u.chunk_id * 48 + 1,
                                  u.chunk_id * 48 + 64), ' ')
         AS chunk_text,
       len(list_slice(toks, u.chunk_id * 48 + 1, u.chunk_id * 48 + 64))
         AS chunk_tokens
FROM c, UNNEST(range(c.nc)) AS u(chunk_id)
"""


def q_gc_setops(spark, sf_dir):
    """Set ops with GEOMETRYCOLLECTION operands (engine r5; reference
    base.py:4762, GEOS OverlayNG GC input). Per customer:
    A = GC(box w x h at origin, line x 20..20+L at y=0, point (50 5));
    B = box (1,-1)-(60,10) covering line+point and cutting the box at
    x>=1; C = GC(box w2 x h2 at origin, point (70 7)).
    A ∩ B: poly (w-1)*h + the covered line and point (3 children).
    A ∪ C: overlapping-corner boxes union to w*h + w2*h2 -
    min(w,w2)*min(h,h2); line/points lie outside and survive."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    w, h, L = k % 5 + 2, k % 3 + 2, k % 7 + 1
    w2, h2 = k % 4 + 3, k % 2 + 3
    gc_a = st.geom_from_text(F.concat(
        F.lit("GEOMETRYCOLLECTION (POLYGON ((0 0, "), w, F.lit(" 0, "),
        w, F.lit(" "), h, F.lit(", 0 "), h,
        F.lit(", 0 0)), LINESTRING (20 0, "), L + 20,
        F.lit(" 0), POINT (50 5))")))
    bpoly = st.geom_from_text(F.lit(
        "POLYGON ((1 -1, 60 -1, 60 10, 1 10, 1 -1))"))
    gc_c = st.geom_from_text(F.concat(
        F.lit("GEOMETRYCOLLECTION (POLYGON ((0 0, "), w2, F.lit(" 0, "),
        w2, F.lit(" "), h2, F.lit(", 0 "), h2,
        F.lit(", 0 0)), POINT (70 7))")))
    inter = st.intersection(gc_a, bpoly)
    uni = st.union(gc_a, gc_c)
    return c.select(
        k.alias("id"),
        F.round(st.area(inter), 6).alias("i_area"),
        st.ngeometries(inter).alias("i_parts"),
        st.geometry_type(inter).alias("i_type"),
        F.round(st.area(uni), 6).alias("u_area"),
        F.round(st.length(st.collection_extract(uni, "line")),
                6).alias("u_len"))


SQL_GC_SETOPS = """
SELECT c_custkey AS id,
       ROUND(CAST((c_custkey % 5 + 1) * (c_custkey % 3 + 2) AS DOUBLE), 6)
           AS i_area,
       CAST(3 AS BIGINT) AS i_parts,
       'GeometryCollection' AS i_type,
       ROUND(CAST((c_custkey % 5 + 2) * (c_custkey % 3 + 2)
             + (c_custkey % 4 + 3) * (c_custkey % 2 + 3)
             - LEAST(c_custkey % 5 + 2, c_custkey % 4 + 3)
               * LEAST(c_custkey % 3 + 2, c_custkey % 2 + 3) AS DOUBLE), 6)
           AS u_area,
       ROUND(CAST(c_custkey % 7 + 1 AS DOUBLE), 6) AS u_len
FROM customer
"""


def q_union_mixed(spark, sf_dir):
    """Mixed-dimension union_all (engine r5; reference unary_union over
    mixed input, base.py:2500): per nation a w x h box, a line entering
    the box and jutting L past its right edge, a covered point and a
    free point — union = GC(box, jutting line piece, free point), so
    area/residual-length/point-count are closed-form."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h, L = k % 4 + 3, k % 3 + 2, k % 5 + 1
    poly = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0))")))
    line = st.geom_from_text(F.concat(
        F.lit("LINESTRING ("), w - 2, F.lit(" 1, "), w + L, F.lit(" 1)")))
    pin = st.geom_from_text(F.lit("POINT (1 1)"))
    pout = st.geom_from_text(F.concat(F.lit("POINT ("), w + 5,
                                      F.lit(" 50)")))
    rows = (n.select(k.alias("nk"), poly.alias("geom"))
            .unionByName(n.select(k.alias("nk"), line.alias("geom")))
            .unionByName(n.select(k.alias("nk"), pin.alias("geom")))
            .unionByName(n.select(k.alias("nk"), pout.alias("geom"))))
    u = rows.groupBy("nk").agg(st.union_agg("geom").alias("u"))
    return u.select(
        F.col("nk").alias("nationkey"),
        st.geometry_type("u").alias("gtype"),
        F.round(st.area("u"), 6).alias("u_area"),
        F.round(st.length(st.collection_extract("u", "line")), 6)
         .alias("line_len"),
        st.ngeometries(st.collection_extract("u", "point"))
          .alias("n_pts"))


SQL_UNION_MIXED = """
SELECT n_nationkey AS nationkey,
       'GeometryCollection' AS gtype,
       ROUND(CAST((n_nationkey % 4 + 3) * (n_nationkey % 3 + 2)
             AS DOUBLE), 6) AS u_area,
       ROUND(CAST(n_nationkey % 5 + 1 AS DOUBLE), 6) AS line_len,
       CAST(1 AS BIGINT) AS n_pts
FROM nation
"""


def q_union_lines(spark, sf_dir):
    """Lineal union (engine r5: union_all over overlapping lines —
    reference base.py:2500-2553, GEOS unary_union on lineal input).
    Per customer: a horizontal road (x0..x0+10 at y=c%10, x0=c%5 — heavy
    collinear overlap within a nation) plus a vertical road (x=c%7,
    y 0..9 — exact duplicates dedupe, crossings node). Union length per
    nation is closed-form: sum over y-rows of (max(x0)-min(x0)+10) plus
    9 * count(distinct vertical x)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    x0, y, vx = k % 5, k % 10, k % 7
    ml = st.geom_from_text(F.concat(
        F.lit("MULTILINESTRING (("), x0, F.lit(" "), y, F.lit(", "),
        x0 + 10, F.lit(" "), y, F.lit("), ("), vx, F.lit(" 0, "),
        vx, F.lit(" 9))")))
    g = c.select(F.col("c_nationkey").alias("nationkey"), ml.alias("geom"))
    u = g.groupBy("nationkey").agg(st.union_agg("geom").alias("u"))
    return u.select("nationkey",
                    F.round(st.length("u"), 6).alias("union_len"),
                    st.geometry_type("u").alias("gtype"))


SQL_UNION_LINES = """
WITH h AS (
  SELECT c_nationkey AS nationkey, c_custkey % 10 AS y,
         MAX(c_custkey % 5) - MIN(c_custkey % 5) + 10 AS seg
  FROM customer GROUP BY 1, 2
), hh AS (SELECT nationkey, SUM(seg) AS hl FROM h GROUP BY 1),
v AS (SELECT c_nationkey AS nationkey,
             COUNT(DISTINCT c_custkey % 7) * 9 AS vl
      FROM customer GROUP BY 1)
SELECT hh.nationkey, ROUND(CAST(hh.hl + v.vl AS DOUBLE), 6) AS union_len,
       'MultiLineString' AS gtype
FROM hh JOIN v USING (nationkey)
"""


def q_explode(spark, sf_dir):
    n = _nat(spark, sf_dir)
    corners = F.concat(
        F.lit("MULTIPOINT (("), F.col("bx0"), F.lit(" "), F.col("by0"),
        F.lit("), ("), F.col("bx0") + 200, F.lit(" "), F.col("by0"),
        F.lit("), ("), F.col("bx0") + 200, F.lit(" "), F.col("by0") + 200,
        F.lit("), ("), F.col("bx0"), F.lit(" "), F.col("by0") + 200,
        F.lit("))"))
    g = n.select("n_nationkey", st.geom_from_text(corners).alias("geom"))
    ex = explode(g)
    return ex.select(F.col("n_nationkey").alias("id"),
                     F.col("part_index").alias("part_index"),
                     st.x("geom").alias("x"), st.y("geom").alias("y"))


SQL_EXPLODE = f"""
SELECT n_nationkey AS id, i AS part_index,
       CAST(CASE WHEN i IN (0, 3) THEN {BX0} ELSE {BX0} + 200 END AS DOUBLE) AS x,
       CAST(CASE WHEN i IN (0, 1) THEN {BY0} ELSE {BY0} + 200 END AS DOUBLE) AS y
FROM nation CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i)
"""


def q_envelope(spark, sf_dir):
    j = _cust_supp_lines(spark, sf_dir)
    env = st.envelope("line")
    return j.select(
        F.col("c_custkey").alias("cid"), F.col("s_suppkey").alias("sid"),
        st.area(env).alias("env_area"),
        st.x_min("line").alias("minx"), st.y_min("line").alias("miny"),
        st.x_max("line").alias("maxx"), st.y_max("line").alias("maxy"))


SQL_ENVELOPE = f"""
SELECT c_custkey AS cid, s_suppkey AS sid,
       CAST(ABS({PX} - {SX}) * ABS({PY} - {SY}) AS DOUBLE) AS env_area,
       CAST(LEAST({PX}, {SX}) AS DOUBLE) AS minx,
       CAST(LEAST({PY}, {SY}) AS DOUBLE) AS miny,
       CAST(GREATEST({PX}, {SX}) AS DOUBLE) AS maxx,
       CAST(GREATEST({PY}, {SY}) AS DOUBLE) AS maxy
FROM customer JOIN supplier ON c_nationkey = s_nationkey
"""


def q_validity(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    box = F.concat(F.lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    bowtie = F.concat(F.lit("POLYGON ((0 0, 10 10, 10 0, 0 10, 0 0))"))
    wktcol = F.when(k % 2 == 0, box).otherwise(bowtie)
    g = st.geom_from_text(wktcol)
    return c.select(k.alias("id"), st.is_valid(g).alias("valid"),
                    st.geometry_type(g).alias("gtype"))


SQL_VALIDITY = """
SELECT c_custkey AS id, (c_custkey % 2 = 0) AS valid, 'Polygon' AS gtype
FROM customer
"""


def q_interpolate(spark, sf_dir):
    j = _cust_supp_lines(spark, sf_dir)
    mid = st.line_interpolate_point("line", F.lit(0.5))
    return j.select(F.col("c_custkey").alias("cid"),
                    F.col("s_suppkey").alias("sid"),
                    st.x(mid).alias("mx"), st.y(mid).alias("my"))


SQL_INTERPOLATE = f"""
SELECT c_custkey AS cid, s_suppkey AS sid,
       CAST({PX} + 0.5 * ({SX} - {PX}) AS DOUBLE) AS mx,
       CAST({PY} + 0.5 * ({SY} - {PY}) AS DOUBLE) AS my
FROM customer JOIN supplier ON c_nationkey = s_nationkey
"""


def q_project(spark, sf_dir):
    j = _cust_supp_lines(spark, sf_dir).filter(
        (F.col("px") != F.col("sx")) | (F.col("py") != F.col("sy")))
    n = _nat(spark, sf_dir).select(
        "n_nationkey",
        st.centroid("geom").alias("npt"))
    jj = j.join(n, j.c_nationkey == n.n_nationkey)
    return jj.select(F.col("c_custkey").alias("cid"),
                     F.col("s_suppkey").alias("sid"),
                     F.round(st.project("line", "npt"), 6).alias("along"))


SQL_PROJECT = f"""
SELECT c_custkey AS cid, s_suppkey AS sid,
       ROUND(
         LEAST(GREATEST(
           CAST(({BX0} + 100 - {PX}) * ({SX} - {PX}) +
                ({BY0} + 100 - {PY}) * ({SY} - {PY}) AS DOUBLE) /
           CAST(({SX} - {PX}) * ({SX} - {PX}) +
                ({SY} - {PY}) * ({SY} - {PY}) AS DOUBLE), 0.0), 1.0) *
         SQRT(CAST(({SX} - {PX}) * ({SX} - {PX}) +
                   ({SY} - {PY}) * ({SY} - {PY}) AS DOUBLE)), 6) AS along
FROM customer
JOIN supplier ON c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
WHERE NOT ({PX} = {SX} AND {PY} = {SY})
"""


def q_hilbert(spark, sf_dir):
    c = _cust(spark, sf_dir)
    return c.select(F.col("c_custkey").alias("id"),
                    st.hilbert("geom", 0.0, 0.0, 1000.0, 1000.0).alias("hkey"))


# The key depends only on c_custkey % 1000, so a 1000-row fixture computed
# by an INDEPENDENT scalar Hilbert implementation (tools/make_hilbert_fixture.py)
# is a complete oracle. DuckDB reads the fixture parquet directly.
SQL_HILBERT = """
SELECT c_custkey AS id, f.hkey AS hkey
FROM customer
JOIN read_parquet('/root/repo/fixtures/hilbert_mod1000.parquet') f
  ON c_custkey % 1000 = f.m
"""


def q_inscribed_clearance(spark, sf_dir):
    """maximum_inscribed_circle radius + minimum_clearance(-line) length on
    per-nation rectangles of varying aspect; for a w×h rectangle the
    inscribed radius is min(w,h)/2 and the clearance is min(w,h) — both
    exact doubles."""
    n = _t(spark, sf_dir, "nation")
    w = (F.col("n_nationkey") % 5 * 20 + 100).cast("double")
    h = F.lit(150.0)
    g = st.makebox(F.lit(0.0), F.lit(0.0), w, h)
    return n.select(
        F.col("n_nationkey").alias("id"),
        F.round(st.length(st.maximum_inscribed_circle(g)), 6)
         .alias("mic_radius"),
        F.round(st.minimum_clearance(g), 6).alias("clearance"),
        F.round(st.length(st.minimum_clearance_line(g)), 6)
         .alias("clearance_len"))


SQL_INSCRIBED_CLEARANCE = """
SELECT n_nationkey AS id,
       ROUND(LEAST(n_nationkey % 5 * 20 + 100, 150) / 2.0, 6) AS mic_radius,
       ROUND(CAST(LEAST(n_nationkey % 5 * 20 + 100, 150) AS DOUBLE), 6)
           AS clearance,
       ROUND(CAST(LEAST(n_nationkey % 5 * 20 + 100, 150) AS DOUBLE), 6)
           AS clearance_len
FROM nation
"""


def q_intersection_all(spark, sf_dir):
    """Reduction by intersection per nation: 500-wide boxes anchored at
    (c_custkey%100, (c_custkey*3)%100) all pairwise overlap, so the group
    intersection is the box [max(a), min(a)+500] × [max(b), min(b)+500]."""
    c = _t(spark, sf_dir, "customer")
    a = (F.col("c_custkey") % 100).cast("double")
    b = (F.col("c_custkey") * 3 % 100).cast("double")
    g = st.makebox(a, b, a + 500.0, b + 500.0)
    return (c.select(F.col("c_nationkey").alias("nk"), g.alias("geom"))
             .groupBy("nk")
             .agg(st.intersection_all_agg("geom").alias("ix"))
             .select("nk", F.round(st.area("ix"), 6).alias("inter_area")))


SQL_INTERSECTION_ALL = """
SELECT c_nationkey AS nk,
       ROUND((500.0 - (MAX(c_custkey % 100) - MIN(c_custkey % 100)))
           * (500.0 - (MAX(c_custkey * 3 % 100) - MIN(c_custkey * 3 % 100))),
           6) AS inter_area
FROM customer
GROUP BY c_nationkey
"""


def q_shared_paths(spark, sf_dir):
    """shared_paths of two horizontal lines on the same row: A spans
    [0,600]; B spans [s, s+400] forward for even keys, reversed for odd —
    the collinear overlap length LEAST(600, s+400) - s lands in the
    same/opposite struct field by B's direction."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = k % 300
    y = (k * 7 % 1000)
    a = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 "), y, F.lit(", 600 "), y, F.lit(")")))
    fwd = F.concat(F.lit("LINESTRING ("), s, F.lit(" "), y, F.lit(", "),
                   s + 400, F.lit(" "), y, F.lit(")"))
    rev = F.concat(F.lit("LINESTRING ("), s + 400, F.lit(" "), y,
                   F.lit(", "), s, F.lit(" "), y, F.lit(")"))
    b = st.geom_from_text(F.when(k % 2 == 0, fwd).otherwise(rev))
    sp = st.shared_paths(a, b)
    return c.select(
        k.alias("id"),
        F.round(st.length(sp.getField("same_direction")), 6)
         .alias("len_same"),
        F.round(st.length(sp.getField("opposite_direction")), 6)
         .alias("len_opp"))


SQL_SHARED_PATHS = """
SELECT c_custkey AS id,
       ROUND(CASE WHEN c_custkey % 2 = 0
             THEN LEAST(600, c_custkey % 300 + 400) - c_custkey % 300
             ELSE 0 END * 1.0, 6) AS len_same,
       ROUND(CASE WHEN c_custkey % 2 = 1
             THEN LEAST(600, c_custkey % 300 + 400) - c_custkey % 300
             ELSE 0 END * 1.0, 6) AS len_opp
FROM customer
"""


def q_cdt(spark, sf_dir):
    """constrained_delaunay_triangles of a 200×200 square with a centered
    square hole of side 20+10*(n%4): any triangulation of an n-vertex
    1-hole polygon has n+2h-2 = 8 triangles summing to the exact area."""
    n = _t(spark, sf_dir, "nation")
    hs = (F.col("n_nationkey") % 4 * 10 + 20)
    x0, y0 = F.lit(90), F.lit(90)
    wktcol = F.concat(
        F.lit("POLYGON ((0 0, 200 0, 200 200, 0 200, 0 0), ("),
        x0, F.lit(" "), y0, F.lit(", "),
        x0 + hs, F.lit(" "), y0, F.lit(", "),
        x0 + hs, F.lit(" "), y0 + hs, F.lit(", "),
        x0, F.lit(" "), y0 + hs, F.lit(", "),
        x0, F.lit(" "), y0, F.lit("))"))
    g = st.constrained_delaunay_triangles(st.geom_from_text(wktcol))
    return n.select(F.col("n_nationkey").alias("id"),
                    st.ngeometries(g).alias("n_tri"),
                    F.round(st.area(g), 6).alias("tri_area"))


SQL_CDT = """
SELECT n_nationkey AS id,
       CAST(8 AS BIGINT) AS n_tri,
       ROUND(200.0 * 200.0
             - (n_nationkey % 4 * 10 + 20) * (n_nationkey % 4 * 10 + 20),
             6) AS tri_area
FROM nation
"""


def q_coverage(spark, sf_dir):
    """Coverage ops per nation: an 'ok' layer (two boxes with a wiggly
    shared edge — simplify_coverage straightens the shared arc identically
    on both sides, so areas become exact W×100 / 100×100) and a 'bad'
    layer (two boxes overlapping horizontally — each box's vertical edge
    lies inside the other, so invalid_coverage_edges has length H)."""
    from geopandas_spark.operators import (invalid_coverage_edges,
                                           simplify_coverage)
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    W, H, wig, o = k % 5 * 10 + 100, k % 4 * 10 + 50, k % 3 * 2 + 2, k % 3 + 1
    c = lambda *parts: st.geom_from_text(F.concat(*[
        F.lit(p) if isinstance(p, str) else p for p in parts]))
    ok_a = c("POLYGON ((0 0, ", W, " 0, ", W + wig, " 50, ", W,
             " 100, 0 100, 0 0))")
    ok_b = c("POLYGON ((", W, " 0, ", W + 100, " 0, ", W + 100, " 100, ",
             W, " 100, ", W + wig, " 50, ", W, " 0))")
    bad_a = c("POLYGON ((0 0, 100 0, 100 ", H, ", 0 ", H, ", 0 0))")
    bad_b = c("POLYGON ((", 100 - o, " 0, ", 200 - o, " 0, ", 200 - o,
              " ", H, ", ", 100 - o, " ", H, ", ", 100 - o, " 0))")
    rows = n.select(k.alias("nk"), F.explode(F.array(
        F.struct(F.lit(0).alias("idx"), F.lit("ok").alias("layer"),
                 ok_a.alias("geom")),
        F.struct(F.lit(1).alias("idx"), F.lit("ok").alias("layer"),
                 ok_b.alias("geom")),
        F.struct(F.lit(2).alias("idx"), F.lit("bad").alias("layer"),
                 bad_a.alias("geom")),
        F.struct(F.lit(3).alias("idx"), F.lit("bad").alias("layer"),
                 bad_b.alias("geom")),
    )).alias("r")).select("nk", "r.idx", "r.layer", "r.geom")
    simp = simplify_coverage(rows, 20.0, ["nk", "layer"])
    # invalid edges computed on the ORIGINAL geometry; rejoin the
    # simplified one on (nk, idx)
    both = invalid_coverage_edges(rows, ["nk", "layer"]) \
        .join(simp.select("nk", "idx", F.col("geom").alias("simp")),
              ["nk", "idx"])
    return both.select(
        (F.col("nk") * 4 + F.col("idx")).alias("id"),
        F.round(F.when(F.col("layer") == "ok", st.area("simp"))
                 .otherwise(st.length("invalid_edges")), 6).alias("metric"))


SQL_COVERAGE = """
SELECT n_nationkey * 4 + idx AS id,
       ROUND(CASE idx
             WHEN 0 THEN (n_nationkey % 5 * 10 + 100) * 100.0
             WHEN 1 THEN 10000.0
             ELSE n_nationkey % 4 * 10 + 50.0 END, 6) AS metric
FROM nation CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS idx)
"""


# --- training-data pipeline queries ----------------------------------------

def q_dedup_exact(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000000)
    both = d.unionByName(dup)
    out = exact_dedup(both)
    return out.select(F.col("doc_id").alias("id"),
                      F.col("n_chars").alias("n_chars"))


SQL_DEDUP_EXACT = """
SELECT doc_id AS id, n_chars FROM documents
"""


def q_token_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        F.col("doc_id").alias("id"),
        token_count(c).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
         .cast("long").alias("n_punct"),
        F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), 0))
         .cast("long").alias("n_digits"),
        F.length(c).cast("long").alias("n_chars2"))


SQL_TOKEN_STATS = r"""
SELECT doc_id AS id,
       CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[^\w\s]')) AS BIGINT) AS n_punct,
       CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digits,
       CAST(length(text) AS BIGINT) AS n_chars2
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(F.col("doc_id").alias("id"),
                    fingerprint("text").alias("fp"))


SQL_FINGERPRINT = r"""
SELECT doc_id AS id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                               '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def q_minhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") >= 8)
    sigs = minhash_signatures(d, num_hashes=4, k=8)
    return sigs.select(F.col("doc_id").alias("id"),
                       F.col("mh0").alias("s0"), F.col("mh1").alias("s1"),
                       F.col("mh2").alias("s2"), F.col("mh3").alias("s3"))


# r13 minhash re-pricing: shingle hash = Rabin polynomial over
# codepoints (B=131 mod 2^31-1 — the fingerprint family of Broder's
# original shingling work), permutation p = affine mix (a_p*H + c_p)
# mod M. The SQL below embeds the SAME base powers and mix constants
# the Spark kernel uses (pipeline.dedup.mix_constants / _poly_powers),
# so signature parity holds by construction: both engines' ascii(
# substr(text, j, 1)) is the codepoint, and 0 past the string end
# (the kernel zero-pads short rows identically). `hv` is the
# per-shingle hash list, built once per row in a CTE; each signature
# is a list_min over cheap integer arithmetic (the r12 twin recomputed
# md5 per permutation per shingle and timed out at the 100x tier).
def _sql_hv(k: int = 8) -> str:
    from geopandas_spark.pipeline.dedup import _MIX_MOD, _poly_powers
    terms = " + ".join(
        f"CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT) * {p}" if j else
        "CAST(ascii(substr(text, i, 1)) AS BIGINT)"
        for j, p in enumerate(_poly_powers(k)))
    return (f"list_transform(range(1, greatest(length(text) - {k - 1}, 1)"
            f" + 1), i -> ({terms}) % {_MIX_MOD}) AS hv")


_SQL_HV = _sql_hv(8)


def _sql_minhash_sig(i: int) -> str:
    from geopandas_spark.pipeline.dedup import _MIX_MOD, mix_constants
    a, _b, c = mix_constants(4)[i]
    return (f"list_min(list_transform(hv, h -> "
            f"({a} * h + {c}) % {_MIX_MOD}))")


SQL_MINHASH = f"""
WITH hv_t AS (
  SELECT doc_id, {_SQL_HV} FROM documents WHERE n_chars >= 8
)
SELECT doc_id AS id,
       {_sql_minhash_sig(0)} AS s0,
       {_sql_minhash_sig(1)} AS s1,
       {_sql_minhash_sig(2)} AS s2,
       {_sql_minhash_sig(3)} AS s3
FROM hv_t
"""


def q_lsh_pairs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & (F.col("n_chars") >= 8))
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000)
    both = d.unionByName(dup)
    pairs = minhash_lsh_pairs(both, num_hashes=4, bands=2, k=8)
    return pairs.select("id_a", "id_b")


SQL_LSH_PAIRS = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100 AND n_chars >= 8
  UNION ALL
  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 100 AND n_chars >= 8
), hv_t AS (
  SELECT doc_id, {_SQL_HV} FROM base
), sigs AS (
  SELECT doc_id AS id,
         {_sql_minhash_sig(0)} AS s0, {_sql_minhash_sig(1)} AS s1,
         {_sql_minhash_sig(2)} AS s2, {_sql_minhash_sig(3)} AS s3
  FROM hv_t
), banded AS (
  SELECT id, 0 AS band, s0 || '#' || s1 AS bk FROM sigs
  UNION ALL
  SELECT id, 1 AS band, s2 || '#' || s3 AS bk FROM sigs
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk
WHERE a.id < b.id
"""


def q_cosine_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    return cosine_topk(e, q, k=3)


SQL_COSINE_TOPK = """
WITH dots AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         ROUND(
           list_sum(list_transform(range(1, len(c.embedding) + 1),
             i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))) /
           (SQRT(list_sum(list_transform(range(1, len(c.embedding) + 1),
             i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))) *
            SQRT(list_sum(list_transform(range(1, len(q.embedding) + 1),
             i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))),
           6) AS score
  FROM embeddings c
  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
  WHERE c.vec_id <> q.vec_id
), ranked AS (
  SELECT q_id, c_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
  FROM dots
)
SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
"""


def q_simhash(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(F.col("doc_id").alias("id"),
                    simhash64("text", k=4, bits=16).cast("long").alias("sh"))


def _sql_simhash16() -> str:
    """16-bit SimHash oracle: per-bit votes via hex-digit arithmetic
    (DuckDB has no hex→int conv)."""
    shingle = ("list_distinct(list_transform("
               "range(1, greatest(length(text) - 3, 1) + 1), "
               "i -> substr(text, i, 4)))")
    terms = []
    for b in range(16):
        hexpos = 4 - b // 4       # 1-indexed hex char within first 4
        j = b % 4                 # bit within nibble
        digit = f"(strpos('0123456789abcdef', substr(md5(s), {hexpos}, 1)) - 1)"
        bit = f"(({digit} // {2 ** j}) % 2)"
        vote = (f"list_sum(list_transform({shingle}, "
                f"s -> CASE WHEN {bit} = 1 THEN 1 ELSE -1 END))")
        terms.append(f"(CASE WHEN {vote} > 0 THEN {2 ** b} ELSE 0 END)")
    return " + ".join(terms)


SQL_SIMHASH = f"""
SELECT doc_id AS id, CAST({_sql_simhash16()} AS BIGINT) AS sh
FROM documents WHERE doc_id < 200
"""


def q_language_id(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(F.col("doc_id").alias("id"),
                    language_id("text").alias("lang_guess"))


_MARKERS_SQL = {
    "en": "['the', 'and', 'of', 'to', 'in']",
    "de": "['der', 'die', 'und', 'das', 'nicht']",
    "fr": "['le', 'la', 'et', 'les', 'des']",
    "es": "['el', 'la', 'que', 'de', 'los']",
}

SQL_LANGUAGE_ID = f"""
WITH w AS (
  SELECT doc_id,
         list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS words
  FROM documents
), s AS (
  SELECT doc_id,
         len(list_intersect(words, {_MARKERS_SQL['en']})) AS s_en,
         len(list_intersect(words, {_MARKERS_SQL['de']})) AS s_de,
         len(list_intersect(words, {_MARKERS_SQL['fr']})) AS s_fr,
         len(list_intersect(words, {_MARKERS_SQL['es']})) AS s_es
  FROM w
)
SELECT doc_id AS id,
       CASE
         WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
         WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
         WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
         ELSE 'es'
       END AS lang_guess
FROM s
"""


def q_quality(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(F.col("doc_id").alias("id"),
                    quality_score("text").alias("q"))


SQL_QUALITY = r"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS DOUBLE) AS n,
         CAST(len(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) /
           CAST(greatest(length(text), 1) AS DOUBLE) AS punct,
         list_distinct(regexp_extract_all(lower(text), '[a-z]+')) AS words
  FROM documents
)
SELECT doc_id AS id,
       ROUND((
         LEAST(n / 500.0, 1.0) +
         (CASE WHEN punct > 0.2 THEN 0.0 ELSE 1.0 - punct END) +
         LEAST(CAST(len(list_intersect(words, ['the', 'and', 'of', 'to', 'in'])) AS DOUBLE) /
               CAST(greatest(len(words), 1) AS DOUBLE) * 5.0, 1.0)
       ) / 3.0, 6) AS q
FROM t
"""


def q_window_top_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= 2)
             .select(F.col("o_custkey").alias("custkey"),
                     F.col("o_orderkey").alias("orderkey"),
                     F.round(F.col("o_totalprice"), 2).alias("totalprice"),
                     F.col("rk").cast("int").alias("rk")))


SQL_WINDOW_TOP_ORDERS = """
SELECT o_custkey AS custkey, o_orderkey AS orderkey,
       ROUND(o_totalprice, 2) AS totalprice, CAST(rk AS INT) AS rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 2
"""


def q_pricing_summary(spark, sf_dir):
    # determinism: the 2-dp inputs are summed as BIGINT cents (r8, VERDICT
    # r7 #3) — bit-identical to the previous decimal(18,2) aggregation
    # (one correctly-rounded double division at the end equals the
    # decimal->double cast of the same exact rational) but the LongType
    # sums stay on Spark's whole-stage-codegen hash-agg fast path, which
    # decimal aggregates fall off.  Revenue accumulates in 1e-4 units
    # (cents * discount-complement cents): |sum| < 5e8 per row, so the
    # 64-bit accumulator holds past sf1000.
    li = _t(spark, sf_dir, "lineitem")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    qty_c = F.round(F.col("l_quantity") * 100).cast("long")
    rev4 = price_c * (F.lit(100).cast("long") - disc_c)
    return (li.groupBy("l_returnflag", "l_linestatus")
              .agg((F.sum(qty_c) / F.lit(100.0)).alias("sum_qty"),
                   (F.sum(rev4) / F.lit(10000.0)).alias("sum_revenue"),
                   F.count("*").alias("count_order"))
              .select("l_returnflag", "l_linestatus", "sum_qty",
                      "sum_revenue", "count_order"))


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
           (100 - CAST(ROUND(l_discount * 100) AS BIGINT))) / 10000.0
         AS sum_revenue,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    j = (o.join(c, o.o_custkey == c.c_custkey)
          .join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    return (j.groupBy("n_name")
             .agg((F.sum(F.round(F.col("o_totalprice") * 100)
                         .cast("long")) / F.lit(100.0)).alias("revenue"),
                  F.count("*").alias("n_orders"))
             .select("n_name", "revenue", "n_orders"))


SQL_REVENUE_BY_NATION = """
SELECT n_name,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS revenue,
       COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

def q_stream_stream_join(spark, sf_dir):
    """REAL stream-stream spatial join execution (streaming/ops.py
    sjoin_stream_stream — no reference analogue, SURVEY §2.9): customer
    and supplier parquet as two bounded file streams with synthetic event
    times (key % 120 minutes past a fixed epoch), joined dwithin<=50 when
    event times are within 10 minutes. Grid-cell equi-keys + the time
    range condition bound the stream-stream state; reference-point filter
    dedups statelessly. Oracle: the equivalent batch cross join."""
    import tempfile
    from geopandas_spark.streaming import sjoin_stream_stream
    d = tempfile.mkdtemp(prefix="gs_ssj_")

    def as_stream(table, key, xe, ye):
        src = os.path.join(sf_dir, f"{table}.parquet")
        src_dir = os.path.join(d, f"in_{table}")
        os.makedirs(src_dir)
        os.symlink(os.path.abspath(src),
                   os.path.join(src_dir, "part-0.parquet"))
        sch = spark.read.parquet(src).schema
        s = spark.readStream.schema(sch).parquet(src_dir)
        return (s.withColumn("geom", st.point(
                    F.expr(xe).cast("double"), F.expr(ye).cast("double")))
                 .withColumn("ts", F.timestamp_seconds(
                     F.lit(1750000000) + (F.col(key) % 120) * 60))
                 .select(F.col(key), "ts", "geom"))

    ls = as_stream("customer", "c_custkey", PX, PY)
    rs = as_stream("supplier", "s_suppkey", SX, SY)
    j = sjoin_stream_stream(ls, rs, cell_size=50.0, predicate="dwithin",
                            distance=50.0, max_delay="10 minutes",
                            watermark="30 minutes")
    out_dir = os.path.join(d, "out")

    def sink(batch_df, batch_id):
        (batch_df.select("c_custkey", "s_suppkey")
         .write.mode("append").parquet(out_dir))

    q = (j.writeStream.foreachBatch(sink)
         .option("checkpointLocation", os.path.join(d, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    res = spark.read.parquet(out_dir)
    return res.select(F.col("c_custkey").alias("cid"),
                      F.col("s_suppkey").alias("sid"))


SQL_STREAM_STREAM_JOIN = f"""
SELECT c_custkey AS cid, s_suppkey AS sid
FROM customer CROSS JOIN supplier
WHERE SQRT(CAST(({PX} - {SX}) * ({PX} - {SX}) +
                ({PY} - {SY}) * ({PY} - {SY}) AS DOUBLE)) <= 50
  AND ABS((c_custkey % 120) - (s_suppkey % 120)) <= 10
"""


def q_multimodal_meta(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").withColumn(
        "image", F.encode("text", "UTF-8"))
    out = decode_images(d)
    return out.select(F.col("doc_id").alias("id"),
                      F.col("image_meta.width").alias("width"),
                      F.col("image_meta.height").alias("height"))


SQL_MULTIMODAL_META = """
SELECT doc_id AS id,
       CAST(16 + (16 * (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
                 + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) % 64 AS INT) AS width,
       CAST(16 + (16 * (strpos('0123456789abcdef', substr(md5(text), 3, 1)) - 1)
                 + (strpos('0123456789abcdef', substr(md5(text), 4, 1)) - 1)) % 64 AS INT) AS height
FROM documents
"""


def _nat_shifted(spark, sf_dir) -> DataFrame:
    """Nation boxes translated by (+100, +100): overlaps the base grid with
    strictly positive overlap widths (multiples of 100), so every set-op
    area below is exact integer arithmetic on both engines."""
    n = _t(spark, sf_dir, "nation")
    return (n.withColumn("b2x", F.expr(BX0))
             .withColumn("b2y", F.expr(BY0))
             .withColumn("geom", st.makebox(
                 (F.col("b2x") + 100).cast("double"),
                 (F.col("b2y") + 100).cast("double"),
                 (F.col("b2x") + 300).cast("double"),
                 (F.col("b2y") + 300).cast("double"))))


def q_setops(spark, sf_dir):
    """Pairwise boolean ops through the Martinez–Rueda sweep (union /
    difference / xor always take it; intersection of convex boxes takes the
    Sutherland–Hodgman fast path)."""
    n1 = (_nat(spark, sf_dir)
          .select(F.col("n_nationkey").alias("k1"), F.col("bx0").alias("b1x"),
                  F.col("by0").alias("b1y"), F.col("geom").alias("g1")))
    n2 = (_nat_shifted(spark, sf_dir)
          .select(F.col("n_nationkey").alias("k2"), "b2x", "b2y",
                  F.col("geom").alias("g2")))
    j = n1.crossJoin(n2)
    ox = F.least(F.col("b1x") + 200, F.col("b2x") + 300) - \
        F.greatest(F.col("b1x"), F.col("b2x") + 100)
    oy = F.least(F.col("b1y") + 200, F.col("b2y") + 300) - \
        F.greatest(F.col("b1y"), F.col("b2y") + 100)
    j = j.filter((ox > 0) & (oy > 0))
    return j.select(
        "k1", "k2",
        F.round(st.area(st.intersection("g1", "g2")), 6).alias("inter_area"),
        F.round(st.area(st.union("g1", "g2")), 6).alias("union_area"),
        F.round(st.area(st.difference("g1", "g2")), 6).alias("diff_area"),
        F.round(st.area(st.symmetric_difference("g1", "g2")), 6).alias("xor_area"))


SQL_SETOPS = f"""
WITH p AS (
  SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2,
         LEAST({BX0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BX0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 100) AS ox,
         LEAST({BY0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BY0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 100) AS oy
  FROM nation n1 CROSS JOIN nation n2
)
SELECT k1, k2,
       ROUND(CAST(ox * oy AS DOUBLE), 6) AS inter_area,
       ROUND(CAST(80000 - ox * oy AS DOUBLE), 6) AS union_area,
       ROUND(CAST(40000 - ox * oy AS DOUBLE), 6) AS diff_area,
       ROUND(CAST(80000 - 2 * ox * oy AS DOUBLE), 6) AS xor_area
FROM p WHERE ox > 0 AND oy > 0
"""


def q_overlay_intersection(spark, sf_dir):
    """operators.overlay how=intersection (reference overlay.py:36)."""
    d1 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk1"), "geom")
    d2 = (_nat_shifted(spark, sf_dir)
          .select(F.col("n_nationkey").alias("nk2"), "geom"))
    out = overlay(d1, d2, "intersection", strategy="broadcast")
    return out.select("nk1", "nk2",
                      F.round(st.area("geom"), 6).alias("area"))


SQL_OVERLAY_INTERSECTION = f"""
WITH p AS (
  SELECT n1.n_nationkey AS nk1, n2.n_nationkey AS nk2,
         LEAST({BX0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BX0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 100) AS ox,
         LEAST({BY0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BY0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 100) AS oy
  FROM nation n1 CROSS JOIN nation n2
)
SELECT nk1, nk2, ROUND(CAST(ox * oy AS DOUBLE), 6) AS area
FROM p WHERE ox > 0 AND oy > 0
"""


def q_overlay_difference(spark, sf_dir):
    """operators.overlay how=difference: per-row union of intersecting
    opposite geometries (one Martinez–Rueda noding sweep) then one
    subtraction. Fully-covered rows vanish; untouched rows survive whole."""
    d1 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk1"), "geom")
    d2 = _nat_shifted(spark, sf_dir).select("geom")
    out = overlay(d1, d2, "difference", strategy="broadcast")
    return out.select("nk1", F.round(st.area("geom"), 6).alias("area"))


SQL_OVERLAY_DIFFERENCE = f"""
WITH p AS (
  SELECT n1.n_nationkey AS nk1,
         GREATEST(0, LEAST({BX0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BX0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 100)) *
         GREATEST(0, LEAST({BY0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BY0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 100)) AS cov
  FROM nation n1 CROSS JOIN nation n2
)
SELECT nk1, ROUND(CAST(40000 - SUM(cov) AS DOUBLE), 6) AS area
FROM p GROUP BY nk1 HAVING SUM(cov) < 40000
"""


def q_union_overlap(spark, sf_dir):
    """union_agg over 25 mutually-overlapping 250-wide boxes on the 200
    grid — one union_many sweep over all 25. The union region is exactly
    [0,1050]² (coverage is separable in x and y)."""
    n = _nat(spark, sf_dir)
    g = st.makebox(F.col("bx0").cast("double"), F.col("by0").cast("double"),
                   (F.col("bx0") + 250).cast("double"),
                   (F.col("by0") + 250).cast("double"))
    u = n.select(g.alias("geom")).agg(st.union_agg("geom").alias("u"))
    return u.select(st.ngeometries("u").alias("n_parts"),
                    F.round(st.area("u"), 6).alias("total_area"))


SQL_UNION_OVERLAP = """
SELECT CAST(1 AS BIGINT) AS n_parts,
       CAST(1050 * 1050 AS DOUBLE) AS total_area
"""


def q_line_metrics(spark, sf_dir):
    """hausdorff/frechet/minimum_bounding_radius on 2-vertex lines, where
    each has an exact closed form (= endpoint distance, and half of it for
    the min enclosing circle)."""
    j = _cust_supp_lines(spark, sf_dir)
    start = st.startpoint("line")
    return j.select(
        F.col("c_custkey").alias("cid"), F.col("s_suppkey").alias("sid"),
        F.round(st.hausdorff_distance("line", start), 6).alias("hausdorff"),
        F.round(st.frechet_distance("line", start), 6).alias("frechet"),
        F.round(st.minimum_bounding_radius("line"), 6).alias("mbr_radius"))


SQL_LINE_METRICS = f"""
SELECT c_custkey AS cid, s_suppkey AS sid,
       ROUND(SQRT(POWER({PX} - {SX}, 2) + POWER({PY} - {SY}, 2)), 6) AS hausdorff,
       ROUND(SQRT(POWER({PX} - {SX}, 2) + POWER({PY} - {SY}, 2)), 6) AS frechet,
       ROUND(SQRT(POWER({PX} - {SX}, 2) + POWER({PY} - {SY}, 2)) / 2, 6) AS mbr_radius
FROM customer JOIN supplier ON c_nationkey = s_nationkey
"""


def q_box_distance(spark, sf_dir):
    """length(shortest_line) between all nation-box pairs — exact
    rectilinear closed form in SQL."""
    n1 = (_nat(spark, sf_dir)
          .select(F.col("n_nationkey").alias("k1"), F.col("bx0").alias("b1x"),
                  F.col("by0").alias("b1y"), F.col("geom").alias("g1")))
    n2 = (_nat(spark, sf_dir)
          .select(F.col("n_nationkey").alias("k2"), F.col("bx0").alias("b2x"),
                  F.col("by0").alias("b2y"), F.col("geom").alias("g2")))
    j = n1.crossJoin(n2)
    return j.select(
        "k1", "k2",
        F.round(st.length(st.shortest_line("g1", "g2")), 6).alias("gap"))


SQL_BOX_DISTANCE = f"""
SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2,
       ROUND(SQRT(
         POWER(GREATEST(0,
           {BX0.replace('n_nationkey', 'n2.n_nationkey')} - {BX0.replace('n_nationkey', 'n1.n_nationkey')} - 200,
           {BX0.replace('n_nationkey', 'n1.n_nationkey')} - {BX0.replace('n_nationkey', 'n2.n_nationkey')} - 200), 2) +
         POWER(GREATEST(0,
           {BY0.replace('n_nationkey', 'n2.n_nationkey')} - {BY0.replace('n_nationkey', 'n1.n_nationkey')} - 200,
           {BY0.replace('n_nationkey', 'n1.n_nationkey')} - {BY0.replace('n_nationkey', 'n2.n_nationkey')} - 200), 2)
       ), 6) AS gap
FROM nation n1 CROSS JOIN nation n2
"""


def q_to_crs(spark, sf_dir):
    """Web-Mercator reprojection (reference to_crs, array.py:1098): keys
    scaled into valid lon/lat range; the 4326→3857 closed form has an exact
    SQL twin. Hash stability: outputs are FLOOR'd to 1-metre integers, and
    the lon/lat offsets (+0.031, +0.001) were searched numerically so that
    every one of the 1000 distinct true outputs sits >= 5.3e-4 m away from
    the nearest integer boundary — ~5 orders of magnitude beyond any libm
    tan/log cross-engine ulp drift (the round-3 variant of this query had a
    1.4e-8 worst-case margin and flipped in round 1)."""
    c = _t(spark, sf_dir, "customer")
    lon = (F.expr(PX) / 10.0 - 50.0 + 0.031).cast("double")
    lat = (F.expr(PY) / 20.0 + 0.001).cast("double")
    g = st.point(lon, lat)
    m = st.to_crs(g, "EPSG:4326", "EPSG:3857")
    return (_t(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("cid"),
                    F.floor(st.x(m)).cast("long").alias("mx"),
                    F.floor(st.y(m)).cast("long").alias("my")))


SQL_TO_CRS = f"""
SELECT c_custkey AS cid,
       CAST(FLOOR(RADIANS({PX} / 10.0 - 50.0 + 0.031) * 6378137.0) AS BIGINT) AS mx,
       CAST(FLOOR(LN(TAN(PI() / 4 + RADIANS({PY} / 20.0 + 0.001) / 2)) * 6378137.0) AS BIGINT) AS my
FROM customer
"""


def _sql_cos(a: str, b: str) -> str:
    """Cosine(a, b) in DuckDB with the same evaluation shape as
    pipeline.similarity.cosine (sequential double accumulation,
    dot / (norm_a * norm_b), round 6) — bit-identical results."""
    def _dot(x, y):
        return (f"list_sum(list_transform(range(1, len({x}) + 1), "
                f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))")
    return (f"ROUND({_dot(a, b)} / "
            f"(SQRT({_dot(a, a)}) * SQRT({_dot(b, b)})), 6)")


def q_ivf_topk(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    return ivf_topk(e, q, k=3, nlist=8, nprobe=3)


SQL_IVF_TOPK = f"""
WITH cents AS (
  SELECT vec_id AS cent_id, embedding AS cvec
  FROM embeddings ORDER BY vec_id LIMIT 8
), cscore AS (
  SELECT e.vec_id AS c_id, k.cent_id,
         {_sql_cos('e.embedding', 'k.cvec')} AS s
  FROM embeddings e CROSS JOIN cents k
), assign AS (
  SELECT c_id, cent_id FROM (
    SELECT c_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY s DESC, cent_id ASC) AS rn
    FROM cscore) t WHERE rn = 1
), probes AS (
  SELECT c_id AS q_id, cent_id FROM (
    SELECT c_id, cent_id,
           ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY s DESC, cent_id ASC) AS rn
    FROM cscore WHERE c_id < 3) t WHERE rn <= 3
), cand AS (
  SELECT p.q_id, a.c_id FROM probes p JOIN assign a USING (cent_id)
  WHERE a.c_id <> p.q_id
), scored AS (
  SELECT cd.q_id, cd.c_id, {_sql_cos('c.embedding', 'q.embedding')} AS score
  FROM cand cd
  JOIN embeddings q ON q.vec_id = cd.q_id
  JOIN embeddings c ON c.vec_id = cd.c_id
)
SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, c_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, c_id ASC) AS rank
  FROM scored) t WHERE rank <= 3
"""


def q_embed_dedup(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return embedding_dedup_pairs(e, threshold=0.4, method="exact")


SQL_EMBED_DEDUP = f"""
SELECT id_a, id_b, score FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_sql_cos('a.embedding', 'b.embedding')} AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) t
WHERE score >= 0.4
"""


def q_embed_quantize(spark, sf_dir):
    """int8 scalar quantization of the embedding column (engine-added
    training-data op, pipeline/similarity.quantize_embeddings): per-row
    scale = max|v|/127, q = floor(v/scale + 0.5) as array<tinyint> — a
    map-only native pass. Twin replicates the identical arithmetic with
    DuckDB list functions; compares the integer L1 mass of the quantized
    vector (hash-exact), the extremal |q| = 127 invariant, and the
    per-component reconstruction-error bound scale/2."""
    from geopandas_spark.pipeline import quantize_embeddings, dequantize
    e = _t(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e)
    recon = dequantize("qvec", "qscale")
    err = F.aggregate(
        F.zip_with(F.col("embedding"), recon,
                   lambda a, b: F.abs(a.cast("double") - b)),
        F.lit(0.0), lambda acc, v: F.greatest(acc, v))
    l1 = F.aggregate(F.col("qvec"), F.lit(0),
                     lambda acc, v: acc + F.abs(v.cast("int")))
    mx = F.aggregate(F.col("qvec"), F.lit(0),
                     lambda acc, v: F.greatest(acc, F.abs(v.cast("int"))))
    return q.select(
        F.col("vec_id").alias("id"),
        l1.cast("long").alias("l1"),
        (mx == 127).alias("hits_127"),
        (err <= F.col("qscale") * 0.5 + 1e-12).alias("err_bounded"))


SQL_EMBED_QUANTIZE = """
WITH s AS (
  SELECT vec_id,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127.0
             AS sc,
         embedding
  FROM embeddings
), q AS (
  SELECT vec_id, sc,
         list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) /
                             (CASE WHEN sc > 0 THEN sc ELSE 1.0 END)
                             + 0.5) AS INTEGER)) AS qv
  FROM s
)
SELECT vec_id AS id,
       CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS l1,
       list_max(list_transform(qv, v -> abs(v))) = 127 AS hits_127,
       TRUE AS err_bounded
FROM q
"""


def q_geom_value_counts(spark, sf_dir):
    """Geometry value_counts: grouping on raw WKB bytes — byte equality ==
    the reference's factorize-via-WKB semantics (array.py:1688-1706);
    entirely native (no UDF in the aggregation)."""
    c = _cust(spark, sf_dir)
    g = c.groupBy("geom").agg(F.count("*").alias("cnt"))
    return g.select(st.x("geom").alias("x"), st.y("geom").alias("y"), "cnt")


SQL_GEOM_VALUE_COUNTS = f"""
SELECT CAST(px AS DOUBLE) AS x, CAST(py AS DOUBLE) AS y, COUNT(*) AS cnt
FROM (SELECT {PX} AS px, {PY} AS py FROM customer) t
GROUP BY px, py
"""


def q_frame_sample(spark, sf_dir):
    d = (_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
         .withColumn("video", F.encode("text", "UTF-8")))
    out = sample_frames(d, max_frames=4, blob_col="video",
                        id_cols=("doc_id",))
    return out.select(F.col("doc_id").alias("id"), "frame_idx", "n_frames")


SQL_FRAME_SAMPLE = """
WITH f AS (
  SELECT doc_id,
         1 + (16 * (strpos('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
              + (strpos('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) % 4
         AS n_frames
  FROM documents WHERE doc_id < 200)
SELECT doc_id AS id, CAST(g.generate_series AS INT) AS frame_idx,
       CAST(n_frames AS INT) AS n_frames
FROM f CROSS JOIN generate_series(0, 3) g
WHERE g.generate_series < n_frames
"""



# ---------------------------------------------------------------------------
# round-2 oracle batch: constructive / predicate operators previously
# covered only by pytest (VERDICT r1 "close the oracle gap")
# ---------------------------------------------------------------------------

def q_boundary(spark, sf_dir):
    """boundary of polygon (ring), line (endpoints), point (empty) —
    reference base.py boundary."""
    n = _t(spark, sf_dir, "nation")
    w = (F.col("n_nationkey") % 5 * 20 + 100)
    box = st.makebox(F.lit(0.0), F.lit(0.0), w.cast("double"), F.lit(150.0))
    line = st.geom_from_text(F.concat(F.lit("LINESTRING (0 0, "), w,
                                      F.lit(" 0)")))
    pt = st.point(F.lit(3.0), F.lit(4.0))
    return n.select(
        F.col("n_nationkey").alias("id"),
        st.geometry_type(st.boundary(box)).alias("b_gtype"),
        F.round(st.length(st.boundary(box)), 6).alias("b_len"),
        st.npoints(st.boundary(box)).alias("b_npts"),
        st.ngeometries(st.boundary(line)).alias("line_b_n"),
        st.is_empty(st.boundary(pt)).alias("pt_b_empty"))


SQL_BOUNDARY = """
SELECT n_nationkey AS id,
       'LineString' AS b_gtype,
       ROUND(2.0 * ((n_nationkey % 5 * 20 + 100) + 150), 6) AS b_len,
       CAST(5 AS BIGINT) AS b_npts,
       CAST(2 AS BIGINT) AS line_b_n,
       TRUE AS pt_b_empty
FROM nation
"""


def q_simplify(spark, sf_dir):
    """Douglas–Peucker: zigzag (0 0, 100 h, 200 0); mid-point perpendicular
    distance to the chord is exactly h, so tol=4.5 keeps h>=5 only."""
    c = _t(spark, sf_dir, "customer")
    h = F.col("c_custkey") % 10
    zig = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 0, 100 "), h, F.lit(", 200 0)")))
    s = st.simplify(zig, F.lit(4.5))
    return c.select(F.col("c_custkey").alias("id"),
                    st.npoints(s).alias("npts"),
                    F.round(st.length(s), 6).alias("slen"))


SQL_SIMPLIFY = """
SELECT c_custkey AS id,
       CAST(CASE WHEN c_custkey % 10 < 5 THEN 2 ELSE 3 END AS BIGINT) AS npts,
       ROUND(CASE WHEN c_custkey % 10 < 5 THEN 200.0
             ELSE 2 * SQRT(10000.0 + (c_custkey % 10) * (c_custkey % 10))
             END, 6) AS slen
FROM customer
"""


def q_snap(spark, sf_dir):
    """snap(A, B, tol): vertex A moves onto B iff within tol; plus
    shortest_line endpoints between the two points."""
    c = _cust(spark, sf_dir)
    d = F.col("c_custkey") % 8
    b = st.point((F.col("px") + d).cast("double"),
                 F.col("py").cast("double"))
    snapped = st.snap("geom", b, F.lit(4.5))
    sl = st.shortest_line("geom", b)
    return c.select(
        F.col("c_custkey").alias("id"),
        st.x(snapped).alias("sx"),
        F.round(st.length(sl), 6).alias("sl_len"),
        st.x(st.startpoint(sl)).alias("sl_x0"),
        st.x(st.endpoint(sl)).alias("sl_x1"))


SQL_SNAP = f"""
SELECT c_custkey AS id,
       CAST(CASE WHEN c_custkey % 8 <= 4 THEN {PX} + c_custkey % 8
            ELSE {PX} END AS DOUBLE) AS sx,
       ROUND(CAST(c_custkey % 8 AS DOUBLE), 6) AS sl_len,
       CAST({PX} AS DOUBLE) AS sl_x0,
       CAST({PX} + c_custkey % 8 AS DOUBLE) AS sl_x1
FROM customer
"""


def q_make_valid(spark, sf_dir):
    """make_valid on a bowtie (self-crossing ring) splits it into the two
    triangles: n=2 parts, area W*H/2 (reference: make_valid base.py)."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 1) * 10, (k % 7 + 1) * 10
    bow = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" "), h, F.lit(", "), w,
        F.lit(" 0, 0 "), h, F.lit(", 0 0))")))
    mv = st.make_valid(bow)
    return n.select(k.alias("id"),
                    st.is_valid(bow).alias("orig_valid"),
                    st.is_valid(mv).alias("fixed_valid"),
                    st.ngeometries(mv).alias("n_parts"),
                    F.round(st.area(mv), 6).alias("mv_area"))


SQL_MAKE_VALID = """
SELECT n_nationkey AS id,
       FALSE AS orig_valid,
       TRUE AS fixed_valid,
       CAST(2 AS BIGINT) AS n_parts,
       ROUND((n_nationkey % 5 + 1) * 10 * (n_nationkey % 7 + 1) * 10 / 2.0,
             6) AS mv_area
FROM nation
"""


def q_trajectory(spark, sf_dir):
    """Trajectory assembly (engine-added spatio-temporal op): per-user
    event points ordered by (ts, event_id) stitched into a LINESTRING —
    grouping/ordering fully native (sort_array over collect_list of a
    struct, partial-aggregated), one scalar UDF stitches vertices
    (st.make_line). Twin recomputes vertex count and path length with a
    LAG window over the same ordering."""
    e = _t(spark, sf_dir, "events")
    x = (F.col("event_id") % 97).cast("double")
    y = (F.col("event_id") * 7 % 89).cast("double")
    pt = st.point(x, y)
    seq = F.sort_array(F.collect_list(F.struct(
        F.col("ts"), F.col("event_id"), pt.alias("g"))))
    g = e.groupBy("user_id").agg(seq.alias("seq"))
    line = st.make_line(F.transform("seq", lambda s: s["g"]))
    return g.select(F.col("user_id").alias("id"),
                    st.npoints(line).alias("npts"),
                    F.round(st.length(line), 6).alias("path_len"))


SQL_TRAJECTORY = """
WITH e AS (
  SELECT user_id, ts, event_id,
         CAST(event_id % 97 AS DOUBLE) AS x,
         CAST(event_id * 7 % 89 AS DOUBLE) AS y
  FROM events
), d AS (
  SELECT user_id,
         SQRT(POWER(x - LAG(x) OVER w, 2) +
              POWER(y - LAG(y) OVER w, 2)) AS step
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id AS id,
       -- a single-event trajectory degenerates to a 2-point zero-length
       -- line on the engine side (1-point LINESTRINGs are invalid WKB)
       CAST(CASE WHEN COUNT(*) = 1 THEN 2 ELSE COUNT(*) END
            AS BIGINT) AS npts,
       ROUND(COALESCE(SUM(step), 0.0), 6) AS path_len
FROM d GROUP BY user_id
"""


def q_subdivide(spark, sf_dir):
    """Engine-added ST_Subdivide analogue (algos.subdivide): per-nation
    w×h boxes densified to unit segments (2(w+h)+1 vertices), split to
    <= 40-vertex pieces via recursive bbox-halving clips. Value oracle
    (r5, upgraded): the bbox-halving recursion is deterministic, so the
    piece COUNT and max piece vertex count are exact functions of
    (w, h) — the twin pins all 12 (w%4, h%3) combos as CASE values;
    piece areas sum EXACTLY to w*h (rectangle clips on halved
    bounds are exact here), every piece is small, and there are at least
    ceil(npts/40) pieces — plus coverage-union reassembly equality, all
    reduced to booleans the twin states as constants."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 4 + 2) * 10, (k % 3 + 2) * 10
    box = st.makebox(F.lit(0.0), F.lit(0.0),
                     w.cast("double"), h.cast("double"))
    dense = st.segmentize(box, F.lit(1.0))
    parts = st.subdivide(dense, 40)
    one = F.explode(parts).alias("p")
    ex = n.select(k.alias("id"), (w * h).cast("double").alias("wh"),
                  st.npoints(dense).alias("npts"), one)
    agg = ex.groupBy("id", "wh", "npts").agg(
        F.sum(st.area("p")).alias("tot"),
        F.max(st.npoints("p")).alias("maxp"),
        F.count("*").alias("np_"))
    return agg.select(
        F.col("id"),
        F.round("tot", 6).alias("tot_area"),
        (F.col("tot") == F.col("wh")).alias("area_exact"),
        F.col("np_").alias("n_pieces"),
        F.col("maxp").alias("max_pts"))


SQL_SUBDIVIDE = """
SELECT n_nationkey AS id,
       ROUND(CAST((n_nationkey % 4 + 2) * 10 * (n_nationkey % 3 + 2) * 10
             AS DOUBLE), 6) AS tot_area,
       TRUE AS area_exact,
       CAST(CASE (n_nationkey % 4) * 3 + (n_nationkey % 3)
         WHEN 0 THEN 4 WHEN 1 THEN 4 WHEN 2 THEN 4
         WHEN 3 THEN 4 WHEN 4 THEN 4 WHEN 5 THEN 4
         WHEN 6 THEN 6 WHEN 7 THEN 4 WHEN 8 THEN 8
         WHEN 9 THEN 6 WHEN 10 THEN 8 ELSE 8 END AS BIGINT) AS n_pieces,
       CAST(CASE (n_nationkey % 4) * 3 + (n_nationkey % 3)
         WHEN 0 THEN 25 WHEN 1 THEN 30 WHEN 2 THEN 35
         WHEN 3 THEN 30 WHEN 4 THEN 35 WHEN 5 THEN 40
         WHEN 6 THEN 27 WHEN 7 THEN 40 WHEN 8 THEN 35
         WHEN 9 THEN 31 WHEN 10 THEN 32 ELSE 37 END AS BIGINT) AS max_pts
FROM nation
"""


def q_to_crs_tm_more(spark, sf_dir):
    """General to_crs family #10: NZGD2000/NZTM (EPSG:2193), Korea 2000
    Unified (5179), TWD97 TM2 (3826) — TM natural-origin anchors are
    exact by construction — and Belgian Lambert 72 (31370, International
    1924 + the NGI 7-parameter shift), all verified by round-trip
    identity; the anchors ride along as constant columns."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(166.0) + (k % 1300) / F.lit(100.0)).cast("double")
    lat = (F.lit(-47.0) + (k * 7 % 1250) / F.lit(100.0)).cast("double")
    g = st.point(lon, lat)
    rt = st.to_crs(st.to_crs(g, "EPSG:4326", "EPSG:2193"),
                   "EPSG:2193", "EPSG:4326")
    anchors = [(173.0, 0.0, "EPSG:2193", 1600000.0, 10000000.0),
               (127.5, 38.0, "EPSG:5179", 1000000.0, 2000000.0),
               (121.0, 0.0, "EPSG:3826", 250000.0, 0.0)]
    cols = [k.alias("id"),
            F.round(st.x(rt), 5).alias("rlon"),
            F.round(st.y(rt), 5).alias("rlat")]
    for i, (lo, la, code, fe, fn) in enumerate(anchors):
        a = st.to_crs(st.point(F.lit(lo), F.lit(la)), "EPSG:4326", code)
        cols.append((F.round(st.x(a), 3) + 0.0).alias(f"fe{i}"))
        cols.append((F.round(st.y(a), 3) + 0.0).alias(f"fn{i}"))
    # Belgian round trip folded into one boolean (datum shift + LCC)
    bg = st.point((F.lit(2.5) + (k % 390) / F.lit(100.0)).cast("double"),
                  (F.lit(49.5) + (k * 3 % 200) / F.lit(100.0)).cast("double"))
    brt = st.to_crs(st.to_crs(bg, "EPSG:4326", "EPSG:31370"),
                    "EPSG:31370", "EPSG:4326")
    cols.append((F.round(st.x(brt) - st.x(bg), 6) + 0.0).alias("bel_dx"))
    cols.append((F.round(st.y(brt) - st.y(bg), 6) + 0.0).alias("bel_dy"))
    return c.select(*cols)


SQL_TO_CRS_TM_MORE = """
SELECT c_custkey AS id,
       ROUND(166.0 + (c_custkey % 1300) / 100.0, 5) AS rlon,
       ROUND(-47.0 + (c_custkey * 7 % 1250) / 100.0, 5) AS rlat,
       1600000.0 + 0.0 AS fe0, 10000000.0 + 0.0 AS fn0,
       1000000.0 + 0.0 AS fe1, 2000000.0 + 0.0 AS fn1,
       250000.0 + 0.0 AS fe2, 0.0 + 0.0 AS fn2,
       0.0 + 0.0 AS bel_dx,
       0.0 + 0.0 AS bel_dy
FROM customer
"""


def q_make_valid_linework(spark, sf_dir):
    """make_valid method split (reference base.py:2114, GEOS MakeValid):
    a hole jutting outside its shell (shell 10x10, hole 8..8+w x 4..4+h
    with w>=3 so it crosses the boundary). linework applies the even-odd
    strategy: the overlap (depth 2) becomes a hole, the jutting region
    (depth 1) contributes AREA: 100 - 2*h + (w-2)*h = 100 + (w-4)*h.
    structure
    subtracts the repaired hole inside the shell and drops the outside
    part: 100 - 2*h. Both outputs are valid."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    w, h = k % 5 + 3, k % 4 + 1
    poly = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (8 4, "),
        w + 8, F.lit(" 4, "), w + 8, F.lit(" "), h + 4,
        F.lit(", 8 "), h + 4, F.lit(", 8 4))")))
    lw = st.make_valid(poly, method="linework")
    sv = st.make_valid(poly, method="structure")
    return c.select(
        k.alias("id"),
        st.is_valid(poly).alias("orig_valid"),
        st.is_valid(lw).alias("lw_valid"),
        st.is_valid(sv).alias("sv_valid"),
        F.round(st.area(lw), 6).alias("lw_area"),
        F.round(st.area(sv), 6).alias("sv_area"))


SQL_MAKE_VALID_LINEWORK = """
SELECT c_custkey AS id,
       FALSE AS orig_valid,
       TRUE AS lw_valid,
       TRUE AS sv_valid,
       ROUND(100.0 + (c_custkey % 5 - 1) * (c_custkey % 4 + 1), 6)
           AS lw_area,
       ROUND(100.0 - 2.0 * (c_custkey % 4 + 1), 6) AS sv_area
FROM customer
"""


def q_line_merge(spark, sf_dir):
    """line_merge: touching segments fuse into one LineString; disjoint
    parts stay a MultiLineString (reference base.py line_merge)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    a, b = k % 50 + 10, k % 30 + 5
    touching = st.geom_from_text(F.concat(
        F.lit("MULTILINESTRING ((0 0, "), a, F.lit(" 0), ("), a,
        F.lit(" 0, "), a, F.lit(" "), b, F.lit("))")))
    disjoint = st.geom_from_text(F.concat(
        F.lit("MULTILINESTRING ((0 0, "), a, F.lit(" 0), ("), a + 5,
        F.lit(" 0, "), a + 5, F.lit(" "), b, F.lit("))")))
    mt, md = st.line_merge(touching), st.line_merge(disjoint)
    return c.select(
        k.alias("id"),
        st.geometry_type(mt).alias("t_gtype"),
        st.npoints(mt).alias("t_npts"),
        F.round(st.length(mt), 6).alias("t_len"),
        st.geometry_type(md).alias("d_gtype"),
        st.ngeometries(md).alias("d_n"))


SQL_LINE_MERGE = """
SELECT c_custkey AS id,
       'LineString' AS t_gtype,
       CAST(3 AS BIGINT) AS t_npts,
       ROUND(CAST(c_custkey % 50 + 10 + c_custkey % 30 + 5 AS DOUBLE), 6) AS t_len,
       'MultiLineString' AS d_gtype,
       CAST(2 AS BIGINT) AS d_n
FROM customer
"""


def q_delaunay(spark, sf_dir):
    """delaunay_triangles of a W×H rectangle's corners + centre: the fan of
    4 triangles (unique triangulation), total area W*H."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 1) * 20, (k % 4 + 1) * 20
    mp = st.geom_from_text(F.concat(
        F.lit("MULTIPOINT ((0 0), ("), w, F.lit(" 0), ("), w, F.lit(" "), h,
        F.lit("), (0 "), h, F.lit("), ("), w / 2, F.lit(" "), h / 2,
        F.lit("))")))
    d = st.delaunay_triangles(mp)
    return n.select(k.alias("id"),
                    st.ngeometries(d).alias("n_tri"),
                    F.round(st.area(d), 6).alias("tri_area"))


SQL_DELAUNAY = """
SELECT n_nationkey AS id,
       CAST(4 AS BIGINT) AS n_tri,
       ROUND(CAST((n_nationkey % 5 + 1) * 20 * (n_nationkey % 4 + 1) * 20
             AS DOUBLE), 6) AS tri_area
FROM nation
"""


def q_concave(spark, sf_dir):
    """concave_hull with ratio=1.0 degenerates to the convex hull
    (reference base.py:1054) — exact triangle area."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    tri = F.concat(F.lit("MULTIPOINT ((0 0), ("), 100 + k,
                   F.lit(" 0), (0 "), 200 + k, F.lit("), (10 10))"))
    ch = st.concave_hull(st.geom_from_text(tri), ratio=1.0)
    return n.select(k.alias("id"),
                    F.round(st.area(ch), 6).alias("hull_area"),
                    st.geometry_type(ch).alias("gtype"))


SQL_CONCAVE = """
SELECT n_nationkey AS id,
       ROUND(CAST((100 + n_nationkey) * (200 + n_nationkey) AS DOUBLE) / 2.0,
             6) AS hull_area,
       'Polygon' AS gtype
FROM nation
"""


def q_mbc_mrr(spark, sf_dir):
    """minimum_rotated_rectangle of a rectangle is itself (area W*H);
    minimum_bounding_circle centre = box centre, radius = half-diagonal."""
    n = _t(spark, sf_dir, "nation")
    w = (F.col("n_nationkey") % 5 * 20 + 100)
    box = st.makebox(F.lit(0.0), F.lit(0.0), w.cast("double"), F.lit(150.0))
    mrr = st.minimum_rotated_rectangle(box)
    mbc = st.minimum_bounding_circle(box)
    c = st.centroid(mbc)
    return n.select(
        F.col("n_nationkey").alias("id"),
        F.round(st.area(mrr), 6).alias("mrr_area"),
        F.round(st.x(c), 6).alias("mbc_cx"),
        F.round(st.y(c), 6).alias("mbc_cy"),
        F.round(st.minimum_bounding_radius(box), 6).alias("mbr_r"))


SQL_MBC_MRR = """
SELECT n_nationkey AS id,
       ROUND((n_nationkey % 5 * 20 + 100) * 150.0, 6) AS mrr_area,
       ROUND((n_nationkey % 5 * 20 + 100) / 2.0, 6) AS mbc_cx,
       ROUND(75.0, 6) AS mbc_cy,
       ROUND(SQRT((n_nationkey % 5 * 20 + 100) * (n_nationkey % 5 * 20 + 100)
                  / 4.0 + 5625.0), 6) AS mbr_r
FROM nation
"""


def q_normalize_reverse(spark, sf_dir):
    """normalize canonicalizes ring orientation + start vertex (engine
    convention: CCW shell starting at the lexicographically-lowest vertex);
    reverse flips vertex order."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    w, h = (k % 5 + 1) * 8, (k % 3 + 1) * 6
    rot = st.geom_from_text(F.concat(
        F.lit("POLYGON (("), w, F.lit(" "), h, F.lit(", "), w,
        F.lit(" 0, 0 0, 0 "), h, F.lit(", "), w, F.lit(" "), h,
        F.lit("))")))
    rev = st.reverse(_cust_line(k))
    return c.select(
        k.alias("id"),
        st.as_text(st.normalize(rot)).alias("norm_wkt"),
        st.x(st.startpoint(rev)).alias("rev_x0"),
        st.y(st.startpoint(rev)).alias("rev_y0"))


def _cust_line(k):
    return st.geom_from_text(F.concat(
        F.lit("LINESTRING ("), k % 1000, F.lit(" "), k * 7 % 1000,
        F.lit(", "), k * 13 % 1000, F.lit(" "), k * 31 % 1000, F.lit(")")))


SQL_NORMALIZE_REVERSE = f"""
SELECT c_custkey AS id,
       'POLYGON ((0 0, ' || (c_custkey % 5 + 1) * 8 || ' 0, '
           || (c_custkey % 5 + 1) * 8 || ' ' || (c_custkey % 3 + 1) * 6
           || ', 0 ' || (c_custkey % 3 + 1) * 6 || ', 0 0))' AS norm_wkt,
       CAST(c_custkey * 13 % 1000 AS DOUBLE) AS rev_x0,
       CAST(c_custkey * 31 % 1000 AS DOUBLE) AS rev_y0
FROM customer
"""


def q_segmentize_rrp(spark, sf_dir):
    """segmentize splits segments to <= max_len (ceil(L/d) pieces, length
    preserved); remove_repeated_points drops consecutive duplicates."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    L = k % 40 + 10
    line = st.geom_from_text(F.concat(F.lit("LINESTRING (0 0, "), L,
                                      F.lit(" 0)")))
    seg = st.segmentize(line, F.lit(4.0))
    dup = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 0, 0 0, "), L, F.lit(" 0, "), L, F.lit(" 0, "),
        L, F.lit(" 5)")))
    rr = st.remove_repeated_points(dup)
    return c.select(k.alias("id"),
                    st.npoints(seg).alias("seg_npts"),
                    F.round(st.length(seg), 6).alias("seg_len"),
                    st.npoints(rr).alias("rr_npts"))


SQL_SEGMENTIZE_RRP = """
SELECT c_custkey AS id,
       CAST(CEIL((c_custkey % 40 + 10) / 4.0) + 1 AS BIGINT) AS seg_npts,
       ROUND(CAST(c_custkey % 40 + 10 AS DOUBLE), 6) AS seg_len,
       CAST(3 AS BIGINT) AS rr_npts
FROM customer
"""


def q_rotate_skew(spark, sf_dir):
    """rotate 180°/90° about the origin on points; 45° x-skew about the
    default origin (geometry centre) on a line — endpoint (2a,2b) of
    LINESTRING(0 0, 2a 2b) maps to x' = 2a + b. True results are integers
    (cos/sin/tan ulp noise ~1e-13 « the round-5 grid)."""
    c = _cust(spark, sf_dir)
    k = F.col("c_custkey")
    r180 = st.rotate("geom", 180.0)
    r90 = st.rotate("geom", 90.0)
    a, b = k % 100, k % 50
    line = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 0, "), a * 2, F.lit(" "), b * 2, F.lit(")")))
    sk = st.skew(line, 45.0, 0.0)
    # `+ 0.0` normalizes IEEE signed zero (-0.0 + 0.0 == +0.0) on BOTH
    # twins: the driver's value hash distinguishes -0.0 from 0.0 even
    # though they compare equal, and the sole px=py=0 row otherwise
    # produces 0.0 here vs -0.0 in the DuckDB twin (r3 hash-red).
    return c.select(
        k.alias("id"),
        (F.round(st.x(r180), 5) + 0.0).alias("r180x"),
        (F.round(st.y(r180), 5) + 0.0).alias("r180y"),
        (F.round(st.x(r90), 5) + 0.0).alias("r90x"),
        (F.round(st.y(r90), 5) + 0.0).alias("r90y"),
        (F.round(st.x(st.endpoint(sk)), 5) + 0.0).alias("skx"))


SQL_ROTATE_SKEW = f"""
SELECT c_custkey AS id,
       ROUND(-CAST({PX} AS DOUBLE), 5) + 0.0 AS r180x,
       ROUND(-CAST({PY} AS DOUBLE), 5) + 0.0 AS r180y,
       ROUND(-CAST({PY} AS DOUBLE), 5) + 0.0 AS r90x,
       ROUND(CAST({PX} AS DOUBLE), 5) + 0.0 AS r90y,
       ROUND(CAST(2 * (c_custkey % 100) + c_custkey % 50 AS DOUBLE), 5) + 0.0 AS skx
FROM customer
"""


def q_relate(spark, sf_dir):
    """DE-9IM relate strings + relate_pattern(contains) for a point
    inside / on the edge of / outside a box (reference base.py:5612)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    box = st.geom_from_text(F.lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    px = F.when(k % 3 == 0, F.lit(5)).when(k % 3 == 1, F.lit(5)).otherwise(F.lit(15))
    py = F.when(k % 3 == 0, F.lit(5)).otherwise(F.lit(0)) + \
        F.when(k % 3 == 2, F.lit(5)).otherwise(F.lit(0))
    pt = st.point(px.cast("double"), py.cast("double"))
    return c.select(
        k.alias("id"),
        st.relate(box, pt).alias("im"),
        st.relate_pattern(box, pt, "T*****FF*").alias("contains_pat"))


SQL_RELATE = """
SELECT c_custkey AS id,
       CASE c_custkey % 3 WHEN 0 THEN '0F2FF1FF2'
            WHEN 1 THEN 'FF20F1FF2' ELSE 'FF2FF10F2' END AS im,
       (c_custkey % 3 = 0) AS contains_pat
FROM customer
"""


def q_polygonize_full(spark, sf_dir):
    """polygonize(full=True) end-to-end (reference base.py:6545, GEOS
    polygonize_full; engine st_polygonize_full_agg): per nation, two
    w×h square rings bridged by a mid-height segment whose endpoints
    lie exactly ON the ring edges (noding splits there; the bridge
    bounds no face → CUT edge of length w), plus a floating diagonal
    (→ DANGLE). Expected areas/lengths are pure arithmetic in the
    oracle; `invalid` stays NULL under the node-first default."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 1) * 10, (k % 4 + 1) * 10
    x2 = w * 2  # second ring offset: bridge spans [w, 2w] at y = h/2
    edges = [
        F.concat(F.lit("LINESTRING (0 0, "), w, F.lit(" 0, "), w,
                 F.lit(" "), h, F.lit(", 0 "), h, F.lit(", 0 0)")),
        F.concat(F.lit("LINESTRING ("), x2, F.lit(" 0, "), x2 + w,
                 F.lit(" 0, "), x2 + w, F.lit(" "), h, F.lit(", "), x2,
                 F.lit(" "), h, F.lit(", "), x2, F.lit(" 0)")),
        F.concat(F.lit("LINESTRING ("), w, F.lit(" "), h / 2,
                 F.lit(", "), x2, F.lit(" "), h / 2, F.lit(")")),
        F.lit("LINESTRING (900 900, 903 904)"),
    ]
    rows = n.select(k.alias("id"), F.explode(F.array(
        *[st.geom_from_text(e).alias("g") for e in edges])).alias("geom"))
    pz = rows.groupBy("id").agg(
        st.polygonize_full_agg("geom").alias("pz"))
    return pz.select(
        "id",
        F.round(st.area(F.element_at("pz", 1)), 6).alias("poly_area"),
        st.ngeometries(F.element_at("pz", 1)).alias("n_polys"),
        F.round(st.length(F.element_at("pz", 2)), 6).alias("cut_len"),
        F.round(st.length(F.element_at("pz", 3)), 6).alias("dangle_len"),
        F.isnull(F.element_at("pz", 4)).alias("invalid_null"))


SQL_POLYGONIZE_FULL = """
SELECT n_nationkey AS id,
       ROUND(2.0 * ((n_nationkey % 5 + 1) * 10)
                 * ((n_nationkey % 4 + 1) * 10), 6) AS poly_area,
       2 AS n_polys,
       ROUND(CAST((n_nationkey % 5 + 1) * 10 AS DOUBLE), 6) AS cut_len,
       ROUND(5.0, 6) AS dangle_len,
       TRUE AS invalid_null
FROM nation
"""


def q_polygonize_buildarea(spark, sf_dir):
    """polygonize assembles the box from its 4 edge lines (the dangling
    extra line is ignored); build_area nests the hole ring."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 1) * 10, (k % 4 + 1) * 10
    edges = [
        F.concat(F.lit("LINESTRING (0 0, "), w, F.lit(" 0)")),
        F.concat(F.lit("LINESTRING ("), w, F.lit(" 0, "), w, F.lit(" "), h, F.lit(")")),
        F.concat(F.lit("LINESTRING ("), w, F.lit(" "), h, F.lit(", 0 "), h, F.lit(")")),
        F.concat(F.lit("LINESTRING (0 "), h, F.lit(", 0 0)")),
        F.lit("LINESTRING (500 500, 600 600)"),
    ]
    rows = n.select(k.alias("id"), F.explode(F.array(
        *[st.geom_from_text(e).alias("g") for e in edges])).alias("geom"))
    pz = (rows.groupBy("id").agg(st.polygonize_agg("geom").alias("pz")))
    hole = st.geom_from_text(F.concat(
        F.lit("MULTILINESTRING ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))")))
    ba = n.select(k.alias("id"),
                  F.round(st.area(st.build_area(hole)), 6).alias("ba_area"))
    out = pz.select("id", st.ngeometries("pz").alias("pz_n"),
                    F.round(st.area("pz"), 6).alias("pz_area"))
    return out.join(ba, "id")


SQL_POLYGONIZE_BUILDAREA = """
SELECT n_nationkey AS id,
       CAST(1 AS BIGINT) AS pz_n,
       ROUND(CAST((n_nationkey % 5 + 1) * 10 * (n_nationkey % 4 + 1) * 10
             AS DOUBLE), 6) AS pz_area,
       ROUND(CAST((n_nationkey % 5 + 1) * 10 * (n_nationkey % 4 + 1) * 10
             - 4 AS DOUBLE), 6) AS ba_area
FROM nation
"""


def q_collect_bounds(spark, sf_dir):
    """st_collect_agg per nation (MULTIPOINT, duplicates kept) + native
    per-group bounds agg (total_bounds building block, dissolve.py:114).
    Centroid = mean of integer coords — exact in double on both engines."""
    c = _cust(spark, sf_dir)
    g = (c.groupBy("c_nationkey")
          .agg(st.collect_agg("geom").alias("mp")))
    cen = st.centroid("mp")
    return g.select(F.col("c_nationkey").alias("nk"),
                    st.ngeometries("mp").alias("n_pts"),
                    st.x(cen).alias("cx"), st.y(cen).alias("cy"),
                    st.x_min("mp").alias("minx"), st.x_max("mp").alias("maxx"),
                    st.y_min("mp").alias("miny"), st.y_max("mp").alias("maxy"))


SQL_COLLECT_BOUNDS = f"""
SELECT c_nationkey AS nk,
       CAST(COUNT(*) AS BIGINT) AS n_pts,
       SUM(CAST({PX} AS DOUBLE)) / COUNT(*) AS cx,
       SUM(CAST({PY} AS DOUBLE)) / COUNT(*) AS cy,
       CAST(MIN({PX}) AS DOUBLE) AS minx, CAST(MAX({PX}) AS DOUBLE) AS maxx,
       CAST(MIN({PY}) AS DOUBLE) AS miny, CAST(MAX({PY}) AS DOUBLE) AS maxy
FROM customer
GROUP BY c_nationkey
"""


def q_coords_dump(spark, sf_dir):
    """dump_coordinates (reference get_coordinates base.py:6242) +
    positional explode."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    line = _cust_line(k)
    d = c.select(k.alias("id"), F.posexplode(st.dump_coordinates(line)))
    return d.select("id", F.col("pos").alias("idx"),
                    F.col("col.x").alias("x"), F.col("col.y").alias("y"))


SQL_COORDS_DUMP = """
SELECT c_custkey AS id, i AS idx,
       CAST(CASE WHEN i = 0 THEN c_custkey % 1000
            ELSE c_custkey * 13 % 1000 END AS DOUBLE) AS x,
       CAST(CASE WHEN i = 0 THEN c_custkey * 7 % 1000
            ELSE c_custkey * 31 % 1000 END AS DOUBLE) AS y
FROM customer CROSS JOIN (SELECT UNNEST([0, 1]) AS i)
"""


def q_tco(spark, sf_dir):
    """touches / crosses / overlaps triple, including the aligned-edge
    overlap case (interiors intersect, boundaries only share edge lines)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    off = (k % 3) * 5 + 5   # 5, 10, 15 ; box width 10 → overlap iff off<10
    a = st.geom_from_text(F.lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"))
    b = st.geom_from_text(F.concat(
        F.lit("POLYGON (("), off, F.lit(" 0, "), off + 10, F.lit(" 0, "),
        off + 10, F.lit(" 10, "), off, F.lit(" 10, "), off, F.lit(" 0))")))
    cut = (k % 4) * 4       # 0,4,8,12 ; line y=cut crosses box iff 0<cut<10
    line = st.geom_from_text(F.concat(
        F.lit("LINESTRING (-5 "), cut, F.lit(", 15 "), cut, F.lit(")")))
    return c.select(
        k.alias("id"),
        st.touches(a, b).alias("t"),
        st.overlaps(a, b).alias("o"),
        st.crosses(line, a).alias("x"))


SQL_TCO = """
SELECT c_custkey AS id,
       (c_custkey % 3 = 1) AS t,
       (c_custkey % 3 = 0) AS o,
       (c_custkey % 4 = 1 OR c_custkey % 4 = 2) AS x
FROM customer
"""


def q_exterior_interiors(spark, sf_dir):
    """exterior ring / interior rings of a donut: hole perimeter recovered
    as length(boundary) - length(exterior)."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h, s = (k % 5 + 1) * 20, (k % 4 + 1) * 20, k % 3 + 2
    donut = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0), (5 5, "), 5 + s, F.lit(" 5, "),
        5 + s, F.lit(" "), 5 + s, F.lit(", 5 "), 5 + s, F.lit(", 5 5))")))
    ext = st.exterior(donut)
    return n.select(
        k.alias("id"),
        F.round(st.length(ext), 6).alias("ext_len"),
        st.n_interior_rings(donut).alias("n_holes"),
        F.round(st.length(st.boundary(donut)) - st.length(ext), 6)
         .alias("hole_len"),
        st.geometry_type(ext).alias("ext_gtype"))


SQL_EXTERIOR_INTERIORS = """
SELECT n_nationkey AS id,
       ROUND(2.0 * ((n_nationkey % 5 + 1) * 20 + (n_nationkey % 4 + 1) * 20),
             6) AS ext_len,
       CAST(1 AS BIGINT) AS n_holes,
       ROUND(4.0 * (n_nationkey % 3 + 2), 6) AS hole_len,
       'LineString' AS ext_gtype
FROM nation
"""


def q_offset_eq(spark, sf_dir):
    """offset_curve ±d of a horizontal line (parallel at y±d); geometry
    equality family: geom_equals (ring rotation invariant), equals_exact
    (tolerance on shifted point), equals_identical (byte-identity)."""
    c = _cust(spark, sf_dir)
    k = F.col("c_custkey")
    d = (k % 9 + 1).cast("double")
    line = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 "), F.col("py"), F.lit(", 50 "), F.col("py"),
        F.lit(")")))
    up = st.offset_curve(line, d)
    dn = st.offset_curve(line, -d)
    ring_a = st.geom_from_text(F.lit("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))"))
    ring_b = st.geom_from_text(F.lit("POLYGON ((8 0, 8 8, 0 8, 0 0, 8 0))"))
    pt_a = st.point(F.lit(0.0), F.lit(0.0))
    pt_b = st.point((k % 6).cast("double"), F.lit(0.0))
    return c.select(
        k.alias("id"),
        st.y(st.startpoint(up)).alias("up_y"),
        st.y(st.startpoint(dn)).alias("dn_y"),
        st.geom_equals(ring_a, ring_b).alias("eq_rot"),
        st.geom_equals_identical(ring_a, ring_b).alias("eq_ident"),
        st.geom_equals_exact(pt_a, pt_b, F.lit(3.5)).alias("eq_tol"))


SQL_OFFSET_EQ = f"""
SELECT c_custkey AS id,
       CAST({PY} + c_custkey % 9 + 1 AS DOUBLE) AS up_y,
       CAST({PY} - (c_custkey % 9 + 1) AS DOUBLE) AS dn_y,
       TRUE AS eq_rot,
       FALSE AS eq_ident,
       (c_custkey % 6 <= 3) AS eq_tol
FROM customer
"""


def q_clip_rect(spark, sf_dir):
    """clip_by_rect: box [0,W]×[0,H] clipped to [10,5]–[1000,1000] →
    (W-10)(H-5) (parameters keep the rect strictly inside)."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 2) * 20, (k % 4 + 2) * 20
    box = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0))")))
    cr = st.clip_by_rect(box, 10.0, 5.0, 1000.0, 1000.0)
    return n.select(k.alias("id"),
                    F.round(st.area(cr), 6).alias("clip_area"))


SQL_CLIP_RECT = """
SELECT n_nationkey AS id,
       ROUND(CAST(((n_nationkey % 5 + 2) * 20 - 10)
             * ((n_nationkey % 4 + 2) * 20 - 5) AS DOUBLE), 6) AS clip_area
FROM nation
"""


def q_unique_rep(spark, sf_dir):
    """extract_unique_points (dedup within MULTIPOINT) +
    representative_point (guaranteed interior; box centre here)."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 1) * 10, (k % 4 + 1) * 10
    mp = st.geom_from_text(F.concat(
        F.lit("MULTIPOINT ((1 1), (1 1), (2 2), (2 2), ("), k,
        F.lit(" 0))")))
    box = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0))")))
    rp = st.representative_point(box)
    return n.select(
        k.alias("id"),
        st.ngeometries(st.extract_unique_points(mp)).alias("n_uniq"),
        st.x(rp).alias("rp_x"), st.y(rp).alias("rp_y"),
        st.contains(box, rp).alias("rp_in"))


SQL_UNIQUE_REP = """
SELECT n_nationkey AS id,
       CAST(3 AS BIGINT) AS n_uniq,
       CAST((n_nationkey % 5 + 1) * 10 AS DOUBLE) / 2.0 AS rp_x,
       CAST((n_nationkey % 4 + 1) * 10 AS DOUBLE) / 2.0 AS rp_y,
       TRUE AS rp_in
FROM nation
"""


def q_geometry_n(spark, sf_dir):
    """geometry_n / get_geometry: nth part of a MULTIPOINT; out-of-range
    yields NULL (reference get_geometry base.py)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    mp = st.geom_from_text(F.concat(
        F.lit("MULTIPOINT (("), k % 100, F.lit(" 1), ("), k % 100 + 1,
        F.lit(" 2), ("), k % 100 + 2, F.lit(" 3))")))
    part = st.geometry_n(mp, (k % 3).cast("int"))
    oob = st.geometry_n(mp, F.lit(7))
    return c.select(k.alias("id"),
                    st.x(part).alias("gx"), st.y(part).alias("gy"),
                    F.isnull(oob).alias("oob_null"))


SQL_GEOMETRY_N = """
SELECT c_custkey AS id,
       CAST(c_custkey % 100 + c_custkey % 3 AS DOUBLE) AS gx,
       CAST(c_custkey % 3 + 1 AS DOUBLE) AS gy,
       TRUE AS oob_null
FROM customer
"""


def _shift_double(coords):
    """Module-level (picklable) coordinate fn for q_transform_apply."""
    out = coords.copy()
    out[:, 0] = out[:, 0] + 1.0
    out[:, 1] = out[:, 1] * 2.0
    return out


def _mirror_row(ga, i):
    """Row fn for st.apply: mirror each point through the origin."""
    if ga.types[i] == 0:
        return None
    parts = ga.geom_slices(i)
    return int(ga.types[i]), [[-r for r in rings] for rings in parts]


def q_transform_apply(spark, sf_dir):
    """st.transform_coords (flat coordinate-buffer fn, reference
    GeoSeries.transform base.py:2257) + st.apply (per-row fn, reference
    GeoSeries.apply geoseries.py:806)."""
    c = _cust(spark, sf_dir)
    g = st.transform_coords("geom", _shift_double)
    m = st.apply("geom", _mirror_row)
    # `+ 0.0` on both twins: kills the signed-zero hash artifact on the
    # single px=py=0 row (see q_rotate_skew).
    return c.select(F.col("c_custkey").alias("id"),
                    (st.x(g) + 0.0).alias("tx"), (st.y(g) + 0.0).alias("ty"),
                    (st.x(m) + 0.0).alias("mx"), (st.y(m) + 0.0).alias("my"))


SQL_TRANSFORM_APPLY = f"""
SELECT c_custkey AS id,
       CAST({PX} + 1 AS DOUBLE) + 0.0 AS tx,
       CAST({PY} * 2 AS DOUBLE) + 0.0 AS ty,
       CAST(-{PX} AS DOUBLE) + 0.0 AS mx,
       CAST(-{PY} AS DOUBLE) + 0.0 AS my
FROM customer
"""


def q_estimate_utm(spark, sf_dir):
    """Frame-level estimate_utm_crs: one native bounds agg + zone
    arithmetic (reference array.py:1190-1270). Exercises GeoFrame.set_crs
    metadata plumbing too."""
    from geopandas_spark import GeoFrame
    c = _cust(spark, sf_dir)
    lon = (F.col("px") / 40.0 - 10.0).cast("double")   # [-10, 15)
    lat = (F.col("py") / 50.0).cast("double")          # [0, 20)
    pts = c.select(st.point(lon, lat).alias("geom"))
    gf = GeoFrame(pts, geometry="geom").set_crs("EPSG:4326")
    code = gf.estimate_utm_crs()
    return spark.createDataFrame([(code,)], "epsg string")


SQL_ESTIMATE_UTM = f"""
WITH b AS (
  SELECT (MIN({PX} / 40.0 - 10.0) + MAX({PX} / 40.0 - 10.0)) / 2.0 AS lon,
         (MIN({PY} / 50.0) + MAX({PY} / 50.0)) / 2.0 AS lat
  FROM customer
)
SELECT 'EPSG:' || CAST(CASE WHEN lat >= 0 THEN 32600 ELSE 32700 END
       + LEAST(GREATEST(CAST(FLOOR((lon + 180.0) / 6.0) AS INT) + 1, 1), 60)
       AS VARCHAR) AS epsg
FROM b
"""


def q_codec_roundtrip(spark, sf_dir):
    """WKT → WKB → WKT round trip and GeoJSON encode/decode round trip
    (reference array.py from_wkb/to_wkb:217-252, from_features)."""
    c = _cust(spark, sf_dir)
    rt = st.geom_from_wkb("geom")   # WKB validate/identity path
    gj = st.as_geojson("geom")
    back = st.geom_from_geojson(gj)
    return c.select(
        F.col("c_custkey").alias("id"),
        st.x(rt).alias("rt_x"),
        st.as_text(back).alias("gj_wkt"),
        gj.alias("gj"))


SQL_CODEC_ROUNDTRIP = f"""
SELECT c_custkey AS id,
       CAST({PX} AS DOUBLE) AS rt_x,
       'POINT (' || {PX} || ' ' || {PY} || ')' AS gj_wkt,
       '{{"type":"Point","coordinates":[' || {PX} || ',' || {PY} || ']}}' AS gj
FROM customer
"""


def q_ring_flags(spark, sf_dir):
    """is_simple / is_ring / is_ccw / is_closed + 2-D has_z/has_m flags
    (reference base.py is_* family)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    zig = st.geom_from_text(F.lit("LINESTRING (0 0, 10 0, 10 10)"))
    crossl = st.geom_from_text(F.lit("LINESTRING (0 0, 10 10, 10 0, 0 10)"))
    line = F.when(k % 2 == 0, zig).otherwise(crossl)
    ccw_ring = st.geom_from_text(F.lit("LINESTRING (0 0, 10 0, 10 10, 0 0)"))
    cw_ring = st.geom_from_text(F.lit("LINESTRING (0 0, 10 10, 10 0, 0 0)"))
    ring = F.when(k % 2 == 0, ccw_ring).otherwise(cw_ring)
    return c.select(
        k.alias("id"),
        st.is_simple(line).alias("simple"),
        st.is_ring(ring).alias("ring"),
        st.is_ccw(ring).alias("ccw"),
        st.is_closed(line).alias("closed"),
        st.has_z(ring).alias("hz"),
        st.has_m(ring).alias("hm"))


SQL_RING_FLAGS = """
SELECT c_custkey AS id,
       (c_custkey % 2 = 0) AS simple,
       TRUE AS ring,
       (c_custkey % 2 = 0) AS ccw,
       FALSE AS closed,
       FALSE AS hz,
       FALSE AS hm
FROM customer
"""


def q_set_precision(spark, sf_dir):
    """set_precision snaps to a grid (grid 7: integer inputs never fall on
    a .5 tie, so round-half conventions agree across engines)."""
    c = _cust(spark, sf_dir)
    g = st.set_precision("geom", F.lit(7.0))
    return c.select(F.col("c_custkey").alias("id"),
                    st.x(g).alias("qx"), st.y(g).alias("qy"))


SQL_SET_PRECISION = f"""
SELECT c_custkey AS id,
       ROUND({PX} / 7.0) * 7 AS qx,
       ROUND({PY} / 7.0) * 7 AS qy
FROM customer
"""


def q_sample_pts(spark, sf_dir):
    """sample_points: seeded-deterministic size + containment property
    oracle (exact point values are engine-internal RNG; the count and
    the all-inside invariant are the reference's documented contract)."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    w, h = (k % 5 + 1) * 20, (k % 4 + 1) * 20
    box = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0))")))
    size = (k % 4 + 2).cast("int")
    sp = st.sample_points(box, size, seed=42)
    return n.select(k.alias("id"),
                    st.ngeometries(sp).alias("n_sampled"),
                    st.contains(box, sp).alias("all_in"))


SQL_SAMPLE_PTS = """
SELECT n_nationkey AS id,
       CAST(n_nationkey % 4 + 2 AS BIGINT) AS n_sampled,
       TRUE AS all_in
FROM nation
"""


def q_sample_poisson(spark, sf_dir):
    """sample_points(method='cluster_poisson') — the pointpats-style
    clustered process the reference reaches through its optional
    pointpats dependency (tools/_random.py:14-83). Property oracle like
    sample_pts: seeded-deterministic count, all-inside containment, and
    bitwise determinism across two evaluations of the same seed."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    k = F.col("c_custkey")
    w, h = (k % 5 + 1) * 20, (k % 4 + 1) * 20
    box = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0))")))
    size = (k % 6 + 4).cast("int")
    sp = st.sample_points(box, size, seed=11, method="cluster_poisson",
                          n_parents=3, cluster_radius=8.0)
    sp2 = st.sample_points(box, size, seed=11, method="cluster_poisson",
                           n_parents=3, cluster_radius=8.0)
    return c.select(k.alias("id"),
                    st.ngeometries(sp).alias("n_sampled"),
                    st.contains(box, sp).alias("all_in"),
                    (sp == sp2).alias("deterministic"))


SQL_SAMPLE_POISSON = """
SELECT c_custkey AS id,
       CAST(c_custkey % 6 + 4 AS BIGINT) AS n_sampled,
       TRUE AS all_in,
       TRUE AS deterministic
FROM customer WHERE c_custkey <= 200
"""


def q_voronoi(spark, sf_dir):
    """voronoi_polygons of a symmetric 2-point set: cells are the two
    halves of the engine's documented clip envelope (bbox expanded by
    max-extent on each side) → total area 6d², 2 cells."""
    n = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    d = (k % 5 + 1) * 20
    mp = st.geom_from_text(F.concat(
        F.lit("MULTIPOINT ((100 50), ("), 100 + d, F.lit(" 50))")))
    v = st.voronoi_polygons(mp)
    return n.select(k.alias("id"),
                    st.ngeometries(v).alias("n_cells"),
                    F.round(st.area(v), 6).alias("v_area"))


SQL_VORONOI = """
SELECT n_nationkey AS id,
       CAST(2 AS BIGINT) AS n_cells,
       ROUND(6.0 * ((n_nationkey % 5 + 1) * 20) * ((n_nationkey % 5 + 1) * 20),
             6) AS v_area
FROM nation
"""


def q_z_coords(spark, sf_dir):
    """Z round trip: WKT Z → kernel → WKB (ISO +1000) → accessors.
    Covers z, has_z, force_2d, force_3d, Z WKT formatting (reference
    geoseries.py:251 z, base.py:812 has_z, :2290/:2332 force_2d/3d)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    px, py, pz = k % 1000, k * 7 % 1000, k % 17
    g = st.geom_from_text(F.concat(
        F.lit("POINT Z ("), px, F.lit(" "), py, F.lit(" "), pz, F.lit(")")))
    g2 = st.force_2d(g)
    return c.select(
        k.alias("id"),
        st.z(g).alias("zv"),
        st.has_z(g).alias("hz"),
        st.has_z(g2).alias("hz2"),
        st.z(st.force_3d(g2, 7.0)).alias("z7"),
        st.as_text(g).alias("wkt3"))


SQL_Z_COORDS = f"""
SELECT c_custkey AS id,
       CAST(c_custkey % 17 AS DOUBLE) AS zv,
       TRUE AS hz,
       FALSE AS hz2,
       7.0 AS z7,
       'POINT Z (' || {PX} || ' ' || {PY} || ' ' || c_custkey % 17 || ')'
           AS wkt3
FROM customer
"""


def q_m_coords(spark, sf_dir):
    """M round trip: WKT M / ZM → kernel WKB (ISO +2000/+3000) →
    accessors → WKT formatting. Covers m, has_m end-to-end with VALUES,
    the way z_coords does for Z (reference base.py:843 m, :812 has_z
    family; shapely 2.1 M support). VERDICT r5 item #6."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    px, py, pm, pz = k % 1000, k * 7 % 1000, k % 23, k % 17
    gm = st.geom_from_text(F.concat(
        F.lit("POINT M ("), px, F.lit(" "), py, F.lit(" "), pm, F.lit(")")))
    gzm = st.geom_from_text(F.concat(
        F.lit("POINT ZM ("), px, F.lit(" "), py, F.lit(" "), pz,
        F.lit(" "), pm, F.lit(")")))
    g2 = st.geom_from_text(F.concat(
        F.lit("POINT ("), px, F.lit(" "), py, F.lit(")")))
    return c.select(
        k.alias("id"),
        st.m(gm).alias("mv"),
        st.has_m(gm).alias("hm"),
        st.has_m(g2).alias("hm2"),
        st.m(gzm).alias("mzm"),
        st.z(gzm).alias("zzm"),
        st.as_text(gm).alias("wktm"),
        st.as_text(gzm).alias("wktzm"))


SQL_M_COORDS = f"""
SELECT c_custkey AS id,
       CAST(c_custkey % 23 AS DOUBLE) AS mv,
       TRUE AS hm,
       FALSE AS hm2,
       CAST(c_custkey % 23 AS DOUBLE) AS mzm,
       CAST(c_custkey % 17 AS DOUBLE) AS zzm,
       'POINT M (' || {PX} || ' ' || {PY} || ' ' || c_custkey % 23 || ')'
           AS wktm,
       'POINT ZM (' || {PX} || ' ' || {PY} || ' ' || c_custkey % 17 ||
           ' ' || c_custkey % 23 || ')' AS wktzm
FROM customer
"""


def q_affine3d(spark, sf_dir):
    """3-D affine parity: 12-tuple affine_transform matrix (reference
    base.py:5970 → shapely.affinity 3-D path), translate zoff and scale
    zfact — Z actually transformed, not just carried."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    px, py, pz = k % 1000, k * 7 % 1000, k % 17
    g = st.geom_from_text(F.concat(
        F.lit("POINT Z ("), px, F.lit(" "), py, F.lit(" "), pz, F.lit(")")))
    # x' = y + 10, y' = x + 20, z' = 2z + 5; then translate(1, 2, 3)
    t = st.translate(st.affine_matrix(
        g, [0, 1, 0, 1, 0, 0, 0, 0, 2, 10, 20, 5]), 1.0, 2.0, 3.0)
    return c.select(
        k.alias("id"),
        F.round(st.x(t), 6).alias("xa"),
        F.round(st.y(t), 6).alias("ya"),
        F.round(st.z(t), 6).alias("za"),
        F.round(st.z(st.scale(g, 1.0, 1.0, 3.0)), 6).alias("z3"))


SQL_AFFINE3D = f"""
SELECT c_custkey AS id,
       ROUND(CAST({PY} + 11 AS DOUBLE), 6) AS xa,
       ROUND(CAST({PX} + 22 AS DOUBLE), 6) AS ya,
       ROUND(CAST(2 * (c_custkey % 17) + 8 AS DOUBLE), 6) AS za,
       ROUND(CAST(3 * (c_custkey % 17) AS DOUBLE), 6) AS z3
FROM customer
"""


def q_geomcollection(spark, sf_dir):
    """GEOMETRYCOLLECTION: WKT/WKB round trip, ngeometries (top-level
    children), area/length over mixed children, collection_extract
    (reference array.py:50-69 GC as first-class type; overlay.py:395-454
    keep_geom_type explode)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    a, b, L = k % 50, k % 30, k % 40 + 10
    w, h = (k % 5 + 1) * 10, (k % 4 + 1) * 10
    gc_wkt = F.concat(
        F.lit("GEOMETRYCOLLECTION (POINT ("), a, F.lit(" "), b,
        F.lit("), LINESTRING (0 0, "), L, F.lit(" 0), POLYGON ((0 0, "),
        w, F.lit(" 0, "), w, F.lit(" "), h, F.lit(", 0 "), h,
        F.lit(", 0 0)))"))
    g = st.geom_from_text(gc_wkt)
    rt = st.geom_from_wkb(g)        # WKB round trip through the codec
    pt = st.collection_extract(g, "point")
    ln = st.collection_extract(g, "line")
    return c.select(
        k.alias("id"),
        st.ngeometries(g).alias("n_children"),
        st.geometry_type(g).alias("gtype"),
        F.round(st.area(g), 6).alias("gc_area"),
        F.round(st.length(g), 6).alias("gc_len"),
        st.x(st.geometry_n(pt, F.lit(0))).alias("pt_x"),
        F.round(st.length(ln), 6).alias("line_len"),
        st.as_text(rt).alias("rt_wkt"))


SQL_GEOMCOLLECTION = """
SELECT c_custkey AS id,
       CAST(3 AS BIGINT) AS n_children,
       'GeometryCollection' AS gtype,
       ROUND(CAST((c_custkey % 5 + 1) * 10 * ((c_custkey % 4 + 1) * 10)
             AS DOUBLE), 6) AS gc_area,
       ROUND(CAST((c_custkey % 40 + 10)
             + 2 * ((c_custkey % 5 + 1) * 10 + (c_custkey % 4 + 1) * 10)
             AS DOUBLE), 6) AS gc_len,
       CAST(c_custkey % 50 AS DOUBLE) AS pt_x,
       ROUND(CAST(c_custkey % 40 + 10 AS DOUBLE), 6) AS line_len,
       'GEOMETRYCOLLECTION (POINT (' || c_custkey % 50 || ' '
           || c_custkey % 30 || '), LINESTRING (0 0, '
           || c_custkey % 40 + 10 || ' 0), POLYGON ((0 0, '
           || (c_custkey % 5 + 1) * 10 || ' 0, ' || (c_custkey % 5 + 1) * 10
           || ' ' || (c_custkey % 4 + 1) * 10 || ', 0 '
           || (c_custkey % 4 + 1) * 10 || ', 0 0)))' AS rt_wkt
FROM customer
"""


def q_to_crs_utm(spark, sf_dir):
    """General to_crs: WGS84 ↔ UTM (Karney–Krüger transverse Mercator,
    EPSG:326xx — the CRS family estimate_utm_crs emits; reference
    array.py:1098-1187). Oracle = round-trip identity (forward+inverse
    agree to ~1e-14°, 9 orders inside the round-5 grid) + exact central
    meridian / equator anchors (E=500000, N=0 by construction)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(6.0) + (k % 600) / F.lit(100.0)).cast("double")   # zone 32
    lat = ((k * 7 % 1000) / F.lit(20.0)).cast("double")
    g = st.point(lon, lat)
    utm = st.to_crs(g, "EPSG:4326", "EPSG:32632")
    back = st.to_crs(utm, "EPSG:32632", "EPSG:4326")
    anchor = st.to_crs(st.point(F.lit(9.0), F.lit(0.0)),
                       "EPSG:4326", "EPSG:32632")
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"),
        st.x(anchor).alias("cm_e"),
        st.y(anchor).alias("cm_n"))


SQL_TO_CRS_UTM = """
SELECT c_custkey AS id,
       ROUND(6.0 + (c_custkey % 600) / 100.0, 5) AS rlon,
       ROUND((c_custkey * 7 % 1000) / 20.0, 5) AS rlat,
       500000.0 AS cm_e,
       0.0 AS cm_n
FROM customer
"""


def q_to_crs_bng(spark, sf_dir):
    """General to_crs beyond UTM #1: EPSG:27700 British National Grid —
    transverse Mercator on Airy 1830 with the published OS 7-parameter
    Helmert datum shift (reference array.py:1098-1187 handles any pyproj
    CRS; this is the closed-form equivalent). Oracle = round-trip
    identity: WGS84 -> 27700 -> WGS84 recovers the 2-decimal input grid
    to 5 decimals (round-trip closure ~5e-8 deg, bounded by the 2-D
    datum-shift height drop; 3 orders inside the round-5 boundary
    margin of 5e-6)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-6.0) + (k % 760) / F.lit(100.0)).cast("double")  # -6..1.59
    lat = (F.lit(50.0) + (k * 7 % 860) / F.lit(100.0)).cast("double")
    g = st.point(lon, lat)
    bng = st.to_crs(g, "EPSG:4326", "EPSG:27700")
    back = st.to_crs(bng, "EPSG:27700", "EPSG:4326")
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"))


SQL_TO_CRS_BNG = """
SELECT c_custkey AS id,
       ROUND(-6.0 + (c_custkey % 760) / 100.0, 5) AS rlon,
       ROUND(50.0 + (c_custkey * 7 % 860) / 100.0, 5) AS rlat
FROM customer
"""


def q_to_crs_lambert93(spark, sf_dir):
    """General to_crs beyond UTM #2: EPSG:2154 RGF93/Lambert-93 — Lambert
    Conformal Conic 2SP (EPSG method 9802) on GRS80. Oracle = round-trip
    identity (closure ~1e-11 deg) + the natural-origin anchor (3E, 46.5N)
    -> (700000, 6600000), exact by construction of the 2SP closed
    form."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-4.0) + (k % 1190) / F.lit(100.0)).cast("double")
    lat = (F.lit(42.0) + (k * 7 % 900) / F.lit(100.0)).cast("double")
    g = st.point(lon, lat)
    l93 = st.to_crs(g, "EPSG:4326", "EPSG:2154")
    back = st.to_crs(l93, "EPSG:2154", "EPSG:4326")
    origin = st.to_crs(st.point(F.lit(3.0), F.lit(46.5)),
                       "EPSG:4326", "EPSG:2154")
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"),
        st.x(origin).alias("origin_e"),
        st.y(origin).alias("origin_n"))


SQL_TO_CRS_LAMBERT93 = """
SELECT c_custkey AS id,
       ROUND(-4.0 + (c_custkey % 1190) / 100.0, 5) AS rlon,
       ROUND(42.0 + (c_custkey * 7 % 900) / 100.0, 5) AS rlat,
       700000.0 AS origin_e,
       6600000.0 AS origin_n
FROM customer
"""

def q_to_crs_polar(spark, sf_dir):
    """General to_crs beyond UTM #3: EPSG:3413 NSIDC polar stereographic
    North — Polar Stereographic variant B (EPSG method 9829) on WGS84.
    Oracle = round-trip identity over an arctic lon/lat grid (closure
    ~1e-11 deg, see geom/crs.py ps_forward/ps_inverse; k=1 at the 70N
    standard parallel is unit-tested as the defining property)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-180.0) + (k % 3600) / F.lit(10.0)).cast("double")
    lat = (F.lit(60.0) + (k * 7 % 290) / F.lit(10.0)).cast("double")
    g = st.point(lon, lat)
    ps = st.to_crs(g, "EPSG:4326", "EPSG:3413")
    back = st.to_crs(ps, "EPSG:3413", "EPSG:4326")
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"))


SQL_TO_CRS_POLAR = """
SELECT c_custkey AS id,
       ROUND(-180.0 + (c_custkey % 3600) / 10.0, 5) AS rlon,
       ROUND(60.0 + (c_custkey * 7 % 290) / 10.0, 5) AS rlat
FROM customer
"""


def q_to_crs_albers(spark, sf_dir):
    """General to_crs beyond UTM #4: EPSG:5070 NAD83 Conus Albers —
    Albers Equal Area conic (EPSG method 9822) on GRS80, validated
    against Snyder's Clarke-1866 worked example in unit tests. Oracle =
    round-trip identity over a CONUS lon/lat grid (closure ~1e-13
    deg)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-125.0) + (k % 580) / F.lit(10.0)).cast("double")
    lat = (F.lit(24.0) + (k * 7 % 250) / F.lit(10.0)).cast("double")
    g = st.point(lon, lat)
    ab = st.to_crs(g, "EPSG:4326", "EPSG:5070")
    back = st.to_crs(ab, "EPSG:5070", "EPSG:4326")
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"))


SQL_TO_CRS_ALBERS = """
SELECT c_custkey AS id,
       ROUND(-125.0 + (c_custkey % 580) / 10.0, 5) AS rlon,
       ROUND(24.0 + (c_custkey * 7 % 250) / 10.0, 5) AS rlat
FROM customer
"""

def q_to_crs_laea_merc(spark, sf_dir):
    """General to_crs families #5 and #6: EPSG:3035 (ETRS89 LAEA Europe,
    the EU statistical grid — Lambert azimuthal equal-area, EPSG method
    9820) and EPSG:3395 (World Mercator, ellipsoidal method 9804).
    Oracle = round-trip identity over a European lon/lat grid through
    BOTH projections chained (4326 -> 3035 -> 4326 -> 3395 -> 4326);
    closures ~1e-13 and ~1e-11 deg. The 3035 natural-origin anchor
    (10E, 52N) -> (4321000, 3210000) exact is unit-tested."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-10.0) + (k % 550) / F.lit(10.0)).cast("double")
    lat = (F.lit(34.0) + (k * 7 % 370) / F.lit(10.0)).cast("double")
    g = st.point(lon, lat)
    g1 = st.to_crs(st.to_crs(g, "EPSG:4326", "EPSG:3035"),
                   "EPSG:3035", "EPSG:4326")
    g2 = st.to_crs(st.to_crs(g1, "EPSG:4326", "EPSG:3395"),
                   "EPSG:3395", "EPSG:4326")
    return c.select(
        k.alias("id"),
        F.round(st.x(g2), 5).alias("rlon"),
        F.round(st.y(g2), 5).alias("rlat"))


SQL_TO_CRS_LAEA_MERC = """
SELECT c_custkey AS id,
       ROUND(-10.0 + (c_custkey % 550) / 10.0, 5) AS rlon,
       ROUND(34.0 + (c_custkey * 7 % 370) / 10.0, 5) AS rlat
FROM customer
"""


def q_to_crs_gk(spark, sf_dir):
    """General to_crs family #7: EPSG:31466-31469 (DHDN / 3-degree
    Gauss-Krüger zones 2-5) — transverse Mercator on Bessel 1841 with the
    EPSG-1777 position-vector Helmert to DHDN (exact affine inverse, so
    the round trip closes to float precision). Oracle = round-trip
    identity over a Germany lon/lat grid through the zone matching the
    longitude (zone = round(lon/3))."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(6.0) + (k % 900) / F.lit(100.0)).cast("double")  # 6..15
    lat = (F.lit(47.5) + (k * 7 % 750) / F.lit(100.0)).cast("double")
    g = st.point(lon, lat)
    zone_code = (F.round(lon / 3.0, 0).cast("long") + 31464)
    back = g
    for code in (31466, 31467, 31468, 31469):
        rt = st.to_crs(st.to_crs(g, "EPSG:4326", f"EPSG:{code}"),
                       f"EPSG:{code}", "EPSG:4326")
        back = F.when(zone_code == code, rt).otherwise(back)
    return c.select(
        k.alias("id"),
        F.round(st.x(back), 5).alias("rlon"),
        F.round(st.y(back), 5).alias("rlat"))


SQL_TO_CRS_GK = """
SELECT c_custkey AS id,
       ROUND(6.0 + (c_custkey % 900) / 100.0, 5) AS rlon,
       ROUND(47.5 + (c_custkey * 7 % 750) / 100.0, 5) AS rlat
FROM customer
"""


def q_to_crs_spcs(spark, sf_dir):
    """General to_crs family #8: NAD83 US State Plane LCC-2SP metre zones
    (EPSG:32118 NY Long Island, 26985 Maryland, 32139 Texas Central,
    26943 California 3). Oracle = round-trip identity per zone grid plus
    the false-origin anchors ((lon0,lat0) -> (fe,fn), exact in the 2SP
    closed form)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(-74.6) + (k % 120) / F.lit(100.0)).cast("double")
    lat = (F.lit(40.4) + (k * 7 % 110) / F.lit(100.0)).cast("double")
    g = st.point(lon, lat)
    rt = st.to_crs(st.to_crs(g, "EPSG:4326", "EPSG:32118"),
                   "EPSG:32118", "EPSG:4326")
    anchors = [(-74.0, 40.0 + 10.0 / 60, "EPSG:32118", 300000.0, 0.0),
               (-77.0, 37.0 + 40.0 / 60, "EPSG:26985", 400000.0, 0.0),
               (-(100.0 + 20.0 / 60), 29.0 + 40.0 / 60, "EPSG:32139",
                700000.0, 3000000.0),
               (-120.5, 36.5, "EPSG:26943", 2000000.0, 500000.0)]
    cols = [k.alias("id"),
            F.round(st.x(rt), 5).alias("rlon"),
            F.round(st.y(rt), 5).alias("rlat")]
    for i, (lo, la, code, fe, fn) in enumerate(anchors):
        a = st.to_crs(st.point(F.lit(lo), F.lit(la)), "EPSG:4326", code)
        cols.append((F.round(st.x(a), 3) + 0.0).alias(f"fe{i}"))
        cols.append((F.round(st.y(a), 3) + 0.0).alias(f"fn{i}"))
    return c.select(*cols)


SQL_TO_CRS_SPCS = """
SELECT c_custkey AS id,
       ROUND(-74.6 + (c_custkey % 120) / 100.0, 5) AS rlon,
       ROUND(40.4 + (c_custkey * 7 % 110) / 100.0, 5) AS rlat,
       300000.0 + 0.0 AS fe0, 0.0 + 0.0 AS fn0,
       400000.0 + 0.0 AS fe1, 0.0 + 0.0 AS fn1,
       700000.0 + 0.0 AS fe2, 3000000.0 + 0.0 AS fn2,
       2000000.0 + 0.0 AS fe3, 500000.0 + 0.0 AS fn3
FROM customer
"""


def q_to_crs_somerc(spark, sf_dir):
    """General to_crs family #9: EPSG:2056 (CH1903+/LV95) and EPSG:21781
    (CH1903/LV03) — Swiss Oblique Mercator (EPSG method 9815 Swiss
    variant; swisstopo closed form on Bessel 1841, translation-only datum
    shift). Oracle = round-trip identity over a Switzerland grid chained
    through BOTH CRSs, plus the LV95-vs-LV03 false-origin offset
    (E_lv95 - E_lv03 = 2_000_000, N diff = 1_000_000 for every point,
    exact because the two CRSs differ only in false origin)."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lon = (F.lit(6.0) + (k % 450) / F.lit(100.0)).cast("double")
    lat = (F.lit(45.9) + (k * 7 % 180) / F.lit(100.0)).cast("double")
    g = st.point(lon, lat)
    lv95 = st.to_crs(g, "EPSG:4326", "EPSG:2056")
    g1 = st.to_crs(lv95, "EPSG:2056", "EPSG:4326")
    lv03 = st.to_crs(g1, "EPSG:4326", "EPSG:21781")
    g2 = st.to_crs(lv03, "EPSG:21781", "EPSG:4326")
    return c.select(
        k.alias("id"),
        F.round(st.x(g2), 5).alias("rlon"),
        F.round(st.y(g2), 5).alias("rlat"),
        F.round(st.x(lv95) - st.x(lv03), 2).alias("de"),
        F.round(st.y(lv95) - st.y(lv03), 2).alias("dn"))


SQL_TO_CRS_SOMERC = """
SELECT c_custkey AS id,
       ROUND(6.0 + (c_custkey % 450) / 100.0, 5) AS rlon,
       ROUND(45.9 + (c_custkey * 7 % 180) / 100.0, 5) AS rlat,
       2000000.0 AS de,
       1000000.0 AS dn
FROM customer
"""


def q_buffer_styles(spark, sf_dir):
    """Buffer kwarg matrix (reference array.py:916-943): square/flat caps,
    mitre/bevel joins, single_sided — all with exact rectilinear areas."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    r = (k % 4 + 2).cast("double")      # 2..5
    L = (k % 30 + 20)
    w, h = (k % 5 + 2) * 10, (k % 3 + 2) * 10
    pt = st.point(F.lit(10.0), F.lit(10.0))
    line = st.geom_from_text(F.concat(F.lit("LINESTRING (0 0, "), L,
                                      F.lit(" 0)")))
    box = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w, F.lit(" "), h,
        F.lit(", 0 "), h, F.lit(", 0 0))")))
    return c.select(
        k.alias("id"),
        F.round(st.area(st.buffer(pt, r, cap_style="square")), 6)
         .alias("pt_square"),
        st.is_empty(st.buffer(pt, r, cap_style="flat")).alias("pt_flat"),
        F.round(st.area(st.buffer(line, r, cap_style="flat",
                                  join_style="mitre")), 6).alias("l_flat"),
        F.round(st.area(st.buffer(line, r, cap_style="square",
                                  join_style="mitre")), 6).alias("l_square"),
        F.round(st.area(st.buffer(box, r, join_style="mitre")), 6)
         .alias("b_mitre"),
        F.round(st.area(st.buffer(box, r, join_style="bevel")), 6)
         .alias("b_bevel"),
        F.round(st.area(st.buffer(line, r, single_sided=True)), 6)
         .alias("l_ss"))


SQL_BUFFER_STYLES = """
SELECT c_custkey AS id,
       ROUND(4.0 * (c_custkey % 4 + 2) * (c_custkey % 4 + 2), 6) AS pt_square,
       TRUE AS pt_flat,
       ROUND(2.0 * (c_custkey % 4 + 2) * (c_custkey % 30 + 20), 6) AS l_flat,
       ROUND(2.0 * (c_custkey % 4 + 2)
             * (c_custkey % 30 + 20 + 2 * (c_custkey % 4 + 2)), 6) AS l_square,
       ROUND((c_custkey % 5 + 2) * 10.0 * ((c_custkey % 3 + 2) * 10)
             + 2.0 * (c_custkey % 4 + 2)
               * ((c_custkey % 5 + 2) * 10 + (c_custkey % 3 + 2) * 10)
             + 4.0 * (c_custkey % 4 + 2) * (c_custkey % 4 + 2), 6) AS b_mitre,
       ROUND((c_custkey % 5 + 2) * 10.0 * ((c_custkey % 3 + 2) * 10)
             + 2.0 * (c_custkey % 4 + 2)
               * ((c_custkey % 5 + 2) * 10 + (c_custkey % 3 + 2) * 10)
             + 2.0 * (c_custkey % 4 + 2) * (c_custkey % 4 + 2), 6) AS b_bevel,
       ROUND(1.0 * (c_custkey % 4 + 2) * (c_custkey % 30 + 20), 6) AS l_ss
FROM customer
"""


def q_grid_size(spark, sf_dir):
    """Set ops with the grid_size kwarg (reference base.py:4405-4879):
    boxes at x.3/x.6 fractional offsets snap onto the unit grid before the
    op, so every output area is exact integer arithmetic."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    w, h, o = (k % 4 + 3) * 10, (k % 3 + 2) * 10, (k % 5 + 1) * 5
    d3, d6 = F.lit(0.3), F.lit(0.6)
    a = st.makebox(d3, d3, w + F.lit(0.4), h + F.lit(0.4))
    b = st.makebox(o + d6, F.lit(0.6), o + w + d6, h + F.lit(1.6))
    return c.select(
        k.alias("id"),
        F.round(st.area(st.intersection(a, b, grid_size=1.0)), 6)
         .alias("inter_a"),
        F.round(st.area(st.union(a, b, grid_size=1.0)), 6).alias("union_a"),
        F.round(st.area(st.difference(a, b, grid_size=1.0)), 6)
         .alias("diff_a"),
        F.round(st.area(st.symmetric_difference(a, b, grid_size=1.0)), 6)
         .alias("xor_a"))


SQL_GRID_SIZE = """
WITH p AS (
  SELECT c_custkey AS id,
         (c_custkey % 4 + 3) * 10 AS w,
         (c_custkey % 3 + 2) * 10 AS h,
         (c_custkey % 5 + 1) * 5 AS o
  FROM customer
)
SELECT id,
       ROUND(CAST((w - o - 1) * (h - 1) AS DOUBLE), 6) AS inter_a,
       ROUND(CAST(2 * w * h + w - (w - o - 1) * (h - 1) AS DOUBLE), 6)
           AS union_a,
       ROUND(CAST(w * h - (w - o - 1) * (h - 1) AS DOUBLE), 6) AS diff_a,
       ROUND(CAST(2 * w * h + w - 2 * (w - o - 1) * (h - 1) AS DOUBLE), 6)
           AS xor_a
FROM p
"""


# --- file-format round-trip oracles ----------------------------------------
# Each writes the synthesized customer points through a format and reads
# them back; the SQL twin is the closed-form original. This is a genuine
# end-to-end oracle of the writer AND reader (schema, geometry codec,
# distributed range logic).

def _roundtrip_cust(spark, sf_dir, fmt: str) -> DataFrame:
    import tempfile
    from geopandas_spark import io as gio
    c = (_cust(spark, sf_dir)
         .select("c_custkey", F.col("c_acctbal").cast("double")
                 .alias("bal"), "geom"))
    d = tempfile.mkdtemp(prefix=f"gs_{fmt}_")
    path = os.path.join(d, f"rt.{fmt}")
    gio.to_file(c, path, geom="geom")
    rkw = {} if fmt == "feather" else {"geom": "geom"}
    back = gio.read_file(spark, path, **rkw)
    return back.select(F.col("c_custkey").alias("id"),
                       F.round("bal", 2).alias("bal"),
                       st.x("geom").alias("x"), st.y("geom").alias("y"))


_SQL_RT = f"""
SELECT c_custkey AS id, ROUND(CAST(c_acctbal AS DOUBLE), 2) AS bal,
       CAST({PX} AS DOUBLE) AS x, CAST({PY} AS DOUBLE) AS y
FROM customer
"""


def q_rt_geoparquet(spark, sf_dir):
    return _roundtrip_cust(spark, sf_dir, "parquet")


def q_rt_shapefile(spark, sf_dir):
    return _roundtrip_cust(spark, sf_dir, "shp")


def q_rt_gpkg(spark, sf_dir):
    return _roundtrip_cust(spark, sf_dir, "gpkg")


def q_rt_geojsonseq(spark, sf_dir):
    return _roundtrip_cust(spark, sf_dir, "geojsonl")


def q_rt_feather(spark, sf_dir):
    return _roundtrip_cust(spark, sf_dir, "feather")


def q_rt_kml(spark, sf_dir):
    """KML round trip (io/kml.py — clean-room stdlib XML KML driver;
    reference reads/writes KML through OGR, geopandas/io/file.py:197).
    ExtendedData values are untyped strings in KML, hence the casts."""
    import tempfile
    from geopandas_spark import io as gio
    c = (_cust(spark, sf_dir)
         .select("c_custkey", F.col("c_acctbal").cast("double")
                 .alias("bal"), "geom"))
    d = tempfile.mkdtemp(prefix="gs_kml_")
    path = os.path.join(d, "rt.kml")
    gio.to_file(c, path, geom="geom")
    back = gio.read_file(spark, path, geom="geom")
    return back.select(F.col("c_custkey").cast("long").alias("id"),
                       F.round(F.col("bal").cast("double"), 2).alias("bal"),
                       st.x("geom").alias("x"), st.y("geom").alias("y"))


def q_rt_gml(spark, sf_dir):
    """GML round trip (io/gml.py — clean-room stdlib XML GML 3.2/2
    driver; reference reads/writes GML through OGR). Feature-property
    elements are untyped text, hence the casts."""
    import tempfile
    from geopandas_spark import io as gio
    c = (_cust(spark, sf_dir)
         .select("c_custkey", F.col("c_acctbal").cast("double")
                 .alias("bal"), "geom"))
    d = tempfile.mkdtemp(prefix="gs_gml_")
    path = os.path.join(d, "rt.gml")
    gio.to_file(c, path, geom="geom")
    back = gio.read_file(spark, path, geom="geom")
    return back.select(F.col("c_custkey").cast("long").alias("id"),
                       F.round(F.col("bal").cast("double"), 2).alias("bal"),
                       st.x("geom").alias("x"), st.y("geom").alias("y"))

def q_rt_fgb(spark, sf_dir):
    """FlatGeobuf round trip (io/fgb.py — clean-room stdlib FlatBuffers +
    packed Hilbert R-tree driver; reference reads/writes FlatGeobuf
    through OGR, geopandas/io/file.py:197-339). Exercises the distributed
    fragment render, Hilbert-ordered index write, AND the index-pruned
    bbox read path (the second read must return the identical subset the
    oracle computes with plain range predicates)."""
    import tempfile
    from geopandas_spark import io as gio
    c = (_cust(spark, sf_dir)
         .select("c_custkey", F.col("c_acctbal").cast("double")
                 .alias("bal"), "geom"))
    d = tempfile.mkdtemp(prefix="gs_fgb_")
    path = os.path.join(d, "rt.fgb")
    gio.to_file(c, path, geom="geom", crs="EPSG:4326")
    back = gio.read_file(spark, path, geom="geom")
    return back.select(F.col("c_custkey").alias("id"),
                       F.round("bal", 2).alias("bal"),
                       st.x("geom").alias("x"), st.y("geom").alias("y"))


def q_fgb_bbox_paths(spark, sf_dir):
    """FlatGeobuf bbox-read robustness (r4 ADVICE fixes, driver-stamped
    per r4 VERDICT item #7): (a) a file written with index=False must
    apply the bbox as an envelope filter instead of silently returning
    everything (io/fgb.py unindexed fallback); (b) NULL-geometry rows
    must never match a bbox (inverted-infinite sentinel in the packed
    R-tree, io/fgb.py index build). Both paths must return exactly the
    subset the oracle computes with plain range predicates over the
    synthesized coordinates, excluding the NULLed rows."""
    import tempfile
    from geopandas_spark import io as gio
    k = F.col("c_custkey")
    c = (_cust(spark, sf_dir)
         .select("c_custkey",
                 F.when(k % 11 == 0, F.lit(None).cast("binary"))
                  .otherwise(F.col("geom")).alias("geom")))
    d = tempfile.mkdtemp(prefix="gs_fgbb_")
    frames = []
    for tag, use_index in (("indexed", True), ("plain", False)):
        path = os.path.join(d, f"bb_{tag}.fgb")
        gio.to_fgb(c, path, geom="geom", index=use_index)
        back = gio.read_file(spark, path, geom="geom",
                             bbox=(100.0, 0.0, 399.0, 650.0))
        frames.append(back.select(F.lit(tag).alias("path_"),
                                  F.col("c_custkey").alias("id"),
                                  st.x("geom").alias("x"),
                                  st.y("geom").alias("y")))
    return frames[0].unionByName(frames[1])


SQL_FGB_BBOX_PATHS = f"""
SELECT p.path_, c.c_custkey AS id,
       CAST({PX} AS DOUBLE) AS x, CAST({PY} AS DOUBLE) AS y
FROM customer c
CROSS JOIN (SELECT 'indexed' AS path_ UNION ALL SELECT 'plain') p
WHERE c.c_custkey % 11 <> 0
  AND {PX} BETWEEN 100 AND 399 AND {PY} BETWEEN 0 AND 650
"""


def q_read_pushdown(spark, sf_dir):
    """read_file pushdown kwargs (reference geopandas/io/file.py:197-339):
    ``bbox=`` (envelope prefilter as native range predicates) and
    ``columns=`` (projection) applied uniformly over the shapefile, gpkg
    and geojsonl distributed readers — each format returns the same
    filtered, pruned subset."""
    import tempfile
    from geopandas_spark import io as gio
    c = (_cust(spark, sf_dir)
         .select("c_custkey", F.col("c_acctbal").cast("double")
                 .alias("bal"), "geom"))
    d = tempfile.mkdtemp(prefix="gs_push_")
    frames = []
    for fmt in ("shp", "gpkg", "geojsonl"):
        path = os.path.join(d, f"push.{fmt}")
        gio.to_file(c, path, geom="geom")
        back = gio.read_file(spark, path, geom="geom",
                             bbox=(100.0, 0.0, 399.0, 650.0),
                             columns=["c_custkey"])
        assert set(back.columns) == {"c_custkey", "geom"}, back.columns
        frames.append(back.select(
            F.lit(fmt).alias("fmt"),
            F.col("c_custkey").cast("long").alias("id"),
            st.x("geom").alias("x"), st.y("geom").alias("y")))
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_)
    return out


SQL_READ_PUSHDOWN = f"""
SELECT fmt, c_custkey AS id,
       CAST({PX} AS DOUBLE) AS x, CAST({PY} AS DOUBLE) AS y
FROM customer, (SELECT UNNEST(['shp', 'gpkg', 'geojsonl']) AS fmt)
WHERE {PX} BETWEEN 100 AND 399 AND {PY} BETWEEN 0 AND 650
"""


def q_list_layers(spark, sf_dir):
    """list_layers (reference geopandas/io/file.py:867-895) over a
    two-layer GeoPackage written by the engine's own gpkg sink."""
    import tempfile
    from geopandas_spark import io as gio
    c = _cust(spark, sf_dir).select("c_custkey", "geom").limit(10)
    d = tempfile.mkdtemp(prefix="gs_layers_")
    path = os.path.join(d, "multi.gpkg")
    gio.to_gpkg(c, path, table="alpha", geom="geom")
    gio.to_gpkg(c, path, table="beta", geom="geom")
    layers = gio.list_layers(path)
    return spark.createDataFrame(layers, "layer string, gtype string")


SQL_LIST_LAYERS = """
SELECT 'alpha' AS layer, 'Unknown' AS gtype
UNION ALL
SELECT 'beta', 'Unknown'
"""


_SQL_OVERLAY_COV = f"""
  SELECT n1.n_nationkey AS k1, n2.n_nationkey AS k2,
         GREATEST(0, LEAST({BX0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BX0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BX0.replace('n_nationkey', 'n2.n_nationkey')} + 100)) *
         GREATEST(0, LEAST({BY0.replace('n_nationkey', 'n1.n_nationkey')} + 200,
               {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 300)
         - GREATEST({BY0.replace('n_nationkey', 'n1.n_nationkey')},
                    {BY0.replace('n_nationkey', 'n2.n_nationkey')} + 100)) AS cov
  FROM nation n1 CROSS JOIN nation n2
"""


def q_overlay_union(spark, sf_dir):
    """overlay how=union (reference tools/overlay.py:36): intersection
    pieces + left remainders + right remainders."""
    d1 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk1"), "geom")
    d2 = (_nat_shifted(spark, sf_dir)
          .select(F.col("n_nationkey").alias("nk2"), "geom"))
    out = overlay(d1, d2, "union", strategy="broadcast")
    return out.select("nk1", "nk2", F.round(st.area("geom"), 6).alias("area"))


SQL_OVERLAY_UNION = f"""
WITH cov AS ({_SQL_OVERLAY_COV})
SELECT k1 AS nk1, k2 AS nk2, ROUND(CAST(cov AS DOUBLE), 6) AS area
FROM cov WHERE cov > 0
UNION ALL
SELECT k1 AS nk1, NULL AS nk2, ROUND(CAST(40000 - SUM(cov) AS DOUBLE), 6)
FROM cov GROUP BY k1 HAVING SUM(cov) < 40000
UNION ALL
SELECT NULL AS nk1, k2 AS nk2, ROUND(CAST(40000 - SUM(cov) AS DOUBLE), 6)
FROM cov GROUP BY k2 HAVING SUM(cov) < 40000
"""


def q_overlay_mixed(spark, sf_dir):
    """overlay(keep_geom_type=False): GEOS point-set output incl. the
    lower-dimensional residue (reference tools/overlay.py:395-454). The
    nation boxes tile a 5×5 grid exactly, so self-overlay yields Polygons
    on the diagonal, shared-edge LineStrings for rook neighbors and
    corner-touch Points for bishop neighbors."""
    d1 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk1"), "geom")
    d2 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk2"), "geom")
    out = overlay(d1, d2, "intersection", keep_geom_type=False,
                  strategy="broadcast")
    t = st.geometry_type("geom")
    measure = (F.when(t == "Polygon", st.area("geom"))
                .when(t == "LineString", st.length("geom"))
                .otherwise(F.lit(0.0)))
    return out.select("nk1", "nk2", t.alias("gtype"),
                      F.round(measure, 6).alias("measure"))


SQL_OVERLAY_MIXED = """
WITH p AS (
  SELECT n1.n_nationkey AS nk1, n2.n_nationkey AS nk2,
         (n1.n_nationkey % 5) AS c1,
         CAST(FLOOR(n1.n_nationkey / 5.0) AS BIGINT) AS r1,
         (n2.n_nationkey % 5) AS c2,
         CAST(FLOOR(n2.n_nationkey / 5.0) AS BIGINT) AS r2
  FROM nation n1 CROSS JOIN nation n2
)
SELECT nk1, nk2,
  CASE WHEN c1 = c2 AND r1 = r2 THEN 'Polygon'
       WHEN ABS(c1 - c2) + ABS(r1 - r2) = 1 THEN 'LineString'
       ELSE 'Point' END AS gtype,
  CASE WHEN c1 = c2 AND r1 = r2 THEN 40000.0
       WHEN ABS(c1 - c2) + ABS(r1 - r2) = 1 THEN 200.0
       ELSE 0.0 END AS measure
FROM p WHERE ABS(c1 - c2) <= 1 AND ABS(r1 - r2) <= 1
"""


def q_overlay_identity(spark, sf_dir):
    """overlay how=identity: union restricted to the left frame's extent
    (intersection pieces + left remainders)."""
    d1 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk1"), "geom")
    d2 = (_nat_shifted(spark, sf_dir)
          .select(F.col("n_nationkey").alias("nk2"), "geom"))
    out = overlay(d1, d2, "identity", strategy="broadcast")
    return out.select("nk1", "nk2", F.round(st.area("geom"), 6).alias("area"))


SQL_OVERLAY_IDENTITY = f"""
WITH cov AS ({_SQL_OVERLAY_COV})
SELECT k1 AS nk1, k2 AS nk2, ROUND(CAST(cov AS DOUBLE), 6) AS area
FROM cov WHERE cov > 0
UNION ALL
SELECT k1 AS nk1, NULL AS nk2, ROUND(CAST(40000 - SUM(cov) AS DOUBLE), 6)
FROM cov GROUP BY k1 HAVING SUM(cov) < 40000
"""


def q_overlay_symdiff(spark, sf_dir):
    """overlay how=symmetric_difference: both remainders, no pairs."""
    d1 = _nat(spark, sf_dir).select(F.col("n_nationkey").alias("nk1"), "geom")
    d2 = (_nat_shifted(spark, sf_dir)
          .select(F.col("n_nationkey").alias("nk2"), "geom"))
    out = overlay(d1, d2, "symmetric_difference", strategy="broadcast")
    return out.select("nk1", "nk2", F.round(st.area("geom"), 6).alias("area"))


SQL_OVERLAY_SYMDIFF = f"""
WITH cov AS ({_SQL_OVERLAY_COV})
SELECT k1 AS nk1, NULL AS nk2, ROUND(CAST(40000 - SUM(cov) AS DOUBLE), 6)
    AS area
FROM cov GROUP BY k1 HAVING SUM(cov) < 40000
UNION ALL
SELECT NULL AS nk1, k2 AS nk2, ROUND(CAST(40000 - SUM(cov) AS DOUBLE), 6)
FROM cov GROUP BY k2 HAVING SUM(cov) < 40000
"""


def q_dissolve_mean(spark, sf_dir):
    """Two-phase dissolve with the mean aggregate (sum+count split across
    partials — exact for integer inputs in double)."""
    cust = _cust(spark, sf_dir)
    dis = dissolve(cust, "c_nationkey",
                   {"c_custkey": "mean", "c_acctbal": "max"},
                   two_phase=True)
    return dis.select(
        F.col("c_nationkey").alias("nk"),
        st.ngeometries("geom").alias("n_pts"),
        F.col("c_custkey_mean").alias("key_mean"),
        F.round("c_acctbal_max", 2).alias("bal_max"))


SQL_DISSOLVE_MEAN = f"""
SELECT c_nationkey AS nk,
       COUNT(DISTINCT {PX} * 1000 + {PY}) AS n_pts,
       SUM(CAST(c_custkey AS DOUBLE)) / COUNT(*) AS key_mean,
       ROUND(MAX(c_acctbal), 2) AS bal_max
FROM customer
GROUP BY c_nationkey
"""


def _key_spread(s):
    """Custom dissolve aggfunc for the oracle: max-min key spread (exact
    integer arithmetic in double)."""
    return float(s.max() - s.min())


def q_dissolve_aggfuncs(spark, sf_dir):
    """dissolve aggfunc parity (reference geodataframe.py:2305): a LIST of
    aggs on one column (sum+count+nunique on c_custkey), holistic named
    aggs (median), and an arbitrary Python callable — holistic presence
    routes the whole dissolve through the single-phase applyInArrow
    plan."""
    cust = _cust(spark, sf_dir)
    dis = dissolve(cust, "c_nationkey",
                   {"c_custkey": ["sum", "count", "median", _key_spread],
                    "c_acctbal": "nunique"})
    return dis.select(
        F.col("c_nationkey").alias("nk"),
        st.ngeometries("geom").alias("n_pts"),
        F.col("c_custkey_sum").alias("key_sum"),
        F.col("c_custkey_count").alias("key_cnt"),
        F.col("c_custkey_median").alias("key_med"),
        F.col("c_custkey__key_spread").alias("key_spread"),
        F.col("c_acctbal_nunique").alias("bal_uniq"))


SQL_DISSOLVE_AGGFUNCS = f"""
SELECT c_nationkey AS nk,
       COUNT(DISTINCT {PX} * 1000 + {PY}) AS n_pts,
       CAST(SUM(c_custkey) AS DOUBLE) AS key_sum,
       COUNT(c_custkey) AS key_cnt,
       MEDIAN(CAST(c_custkey AS DOUBLE)) AS key_med,
       CAST(MAX(c_custkey) - MIN(c_custkey) AS DOUBLE) AS key_spread,
       COUNT(DISTINCT c_acctbal) AS bal_uniq
FROM customer
GROUP BY c_nationkey
"""


def q_dissolve_coverage(spark, sf_dir):
    """dissolve(method='coverage'): per-nation edge-matched tile strips
    (rank-indexed unit squares, 8 wide) union via edge cancellation +
    face tracing — no sweep (reference dissolve(method=)/union_all
    (method='coverage'), geodataframe.py:2172, array.py:1002-1019).
    Closed form: area = tile count n; the left-aligned strip's perimeter
    is 2*(8 + ceil(n/8)) regardless of the last row's width."""
    from pyspark.sql import Window
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    r = F.row_number().over(w) - 1
    tile = st.makebox((r % 8).cast("double"),
                      F.floor(r / 8).cast("double"),
                      (r % 8 + 1).cast("double"),
                      (F.floor(r / 8) + 1).cast("double"))
    tiles = c.select("c_nationkey", tile.alias("geom"))
    dis = dissolve(tiles, "c_nationkey", method="coverage")
    return dis.select(
        F.col("c_nationkey").alias("nk"),
        F.round(st.area("geom"), 6).alias("tile_area"),
        F.round(st.length("geom"), 6).alias("perim"),
        st.ngeometries("geom").alias("n_parts"),
        st.n_interior_rings("geom").alias("n_holes"))


SQL_DISSOLVE_COVERAGE = """
SELECT c_nationkey AS nk,
       ROUND(CAST(COUNT(*) AS DOUBLE), 6) AS tile_area,
       ROUND(2.0 * (8 + CEIL(COUNT(*) / 8.0)), 6) AS perim,
       CAST(1 AS BIGINT) AS n_parts,
       CAST(0 AS BIGINT) AS n_holes
FROM customer
GROUP BY c_nationkey
"""


def q_concat_cx(spark, sf_dir):
    """Frame surface: concat (CRS-checked vertical union), cx bbox
    indexer, set_geometry/rename_geometry metadata plumbing."""
    from geopandas_spark import GeoFrame
    from geopandas_spark.frame import concat
    c = (_cust(spark, sf_dir)
         .select(F.col("c_custkey").alias("k"), "geom"))
    s = (_supp(spark, sf_dir)
         .select((F.col("s_suppkey") + 1000000).alias("k"),
                 F.col("geom").alias("g2")))
    gf1 = GeoFrame(c, geometry="geom").set_crs("EPSG:3857")
    gf2 = (GeoFrame(s, geometry="g2").set_crs("EPSG:3857")
           .rename_geometry("geom"))
    both = concat([gf1, gf2])
    box = both.cx[0:500, 0:500]
    return (box.df.agg(F.count("*").alias("n_in"),
                       F.sum("k").cast("double").alias("k_sum")))


SQL_CONCAT_CX = f"""
WITH pts AS (
  SELECT c_custkey AS k, {PX} AS x, {PY} AS y FROM customer
  UNION ALL
  SELECT s_suppkey + 1000000, {SX}, {SY} FROM supplier
)
SELECT COUNT(*) AS n_in, CAST(SUM(k) AS DOUBLE) AS k_sum
FROM pts WHERE x <= 500 AND y <= 500
"""


def q_valid_reason_orient(spark, sf_dir):
    """is_valid_reason strings, orient_polygons (CCW exterior
    canonicalization), absolute + normalized line interpolation."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    w, h = (k % 5 + 1) * 8, (k % 3 + 1) * 6
    ok_ring = F.concat(F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "), w,
                       F.lit(" "), h, F.lit(", 0 "), h, F.lit(", 0 0))"))
    bow = F.concat(F.lit("POLYGON ((0 0, "), w, F.lit(" "), h, F.lit(", "),
                   w, F.lit(" 0, 0 "), h, F.lit(", 0 0))"))
    # figure-8 through the midpoint: revisited vertex, NO proper
    # crossing -> GEOS phrases this "Ring Self-intersection" (r10)
    mx, my = (w / 2).cast("long"), (h / 2).cast("long")
    pinch = F.concat(F.lit("POLYGON ((0 0, "), w, F.lit(" 0, "),
                     mx, F.lit(" "), my, F.lit(", "), w, F.lit(" "), h,
                     F.lit(", 0 "), h, F.lit(", "), mx, F.lit(" "), my,
                     F.lit(", 0 0))"))
    geom = st.geom_from_text(F.when(k % 3 == 0, ok_ring)
                             .when(k % 3 == 1, bow).otherwise(pinch))
    cw = st.geom_from_text(F.concat(
        F.lit("POLYGON ((0 0, 0 "), h, F.lit(", "), w, F.lit(" "), h,
        F.lit(", "), w, F.lit(" 0, 0 0))")))
    oriented = st.orient_polygons(cw)
    line = st.geom_from_text(F.concat(F.lit("LINESTRING (0 0, "), w * 10,
                                      F.lit(" 0)")))
    return c.select(
        k.alias("id"),
        st.is_valid_reason(geom).alias("reason"),
        st.is_ccw(st.exterior(oriented)).alias("or_ccw"),
        F.round(st.area(oriented), 6).alias("or_area"),
        st.x(st.interpolate(line, F.lit(13.0))).alias("ip_abs"),
        st.x(st.line_interpolate_point(line, F.lit(0.25))).alias("ip_norm"))


def q_densify_distances(spark, sf_dir):
    """hausdorff_distance / frechet_distance densify kwarg (reference
    base.py:4166,4281). Anchors: the JTS DiscreteHausdorffDistance javadoc
    example (vertex sqrt(200); densify=0.5 exactly 70.0 — the max lands on
    densified vertex (70,80) vs the x=0 edge) and an integer tent chain
    whose densified Fréchet is exactly 4.0. Scaled per row by an integer
    factor so every row exercises the kernel."""
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    s = (k % 5 + 1)                      # integer scale 1..5
    ha = st.geom_from_text(F.concat(
        F.lit("LINESTRING ("), 130 * s, F.lit(" 0, 0 0, 0 "), 150 * s,
        F.lit(")")))
    hb = st.geom_from_text(F.concat(
        F.lit("LINESTRING ("), 10 * s, F.lit(" "), 10 * s, F.lit(", "),
        10 * s, F.lit(" "), 150 * s, F.lit(", "), 130 * s, F.lit(" "),
        10 * s, F.lit(")")))
    fa = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 0, "), 10 * s, F.lit(" 0)")))
    fb = st.geom_from_text(F.concat(
        F.lit("LINESTRING (0 0, "), 5 * s, F.lit(" "), 4 * s,
        F.lit(", "), 10 * s, F.lit(" 0)")))
    return c.select(
        k.alias("id"),
        st.hausdorff_distance(ha, hb).alias("hd_vertex"),
        st.hausdorff_distance(ha, hb, densify=0.5).alias("hd_densified"),
        st.frechet_distance(fa, fb).alias("fd_vertex"),
        st.frechet_distance(fa, fb, densify=0.25).alias("fd_densified"))


SQL_DENSIFY_DISTANCES = """
SELECT c_custkey AS id,
       SQRT(200.0 * (c_custkey % 5 + 1) * (c_custkey % 5 + 1))
           AS hd_vertex,
       70.0 * (c_custkey % 5 + 1) AS hd_densified,
       SQRT(41.0 * (c_custkey % 5 + 1) * (c_custkey % 5 + 1)) AS fd_vertex,
       4.0 * (c_custkey % 5 + 1) AS fd_densified
FROM customer
"""


SQL_VALID_REASON_ORIENT = """
SELECT c_custkey AS id,
       CASE WHEN c_custkey % 3 = 0 THEN 'Valid Geometry'
            WHEN c_custkey % 3 = 1 THEN 'Self-intersection'
            ELSE 'Ring Self-intersection' END AS reason,
       TRUE AS or_ccw,
       ROUND(CAST((c_custkey % 5 + 1) * 8 * ((c_custkey % 3 + 1) * 6)
             AS DOUBLE), 6) AS or_area,
       13.0 AS ip_abs,
       ROUND((c_custkey % 5 + 1) * 8 * 10 * 0.25, 6) AS ip_norm
FROM customer
"""


def q_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification on LSH candidate pairs (the
    scale path: never all-pairs; pipeline/dedup.py:87)."""
    from geopandas_spark.pipeline.dedup import (minhash_lsh_pairs,
                                                ngram_jaccard_pairs)
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & (F.col("n_chars") >= 8))
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000)
    both = d.unionByName(dup)
    cand = minhash_lsh_pairs(both, num_hashes=4, bands=2, k=8)
    out = ngram_jaccard_pairs(both, k=8, threshold=0.5, candidates=cand)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jac"))


SQL_JACCARD = f"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100 AND n_chars >= 8
  UNION ALL
  SELECT doc_id + 1000, text FROM documents WHERE doc_id < 100 AND n_chars >= 8
), hv_t AS (
  SELECT doc_id, {_SQL_HV} FROM base
), sigs AS (
  SELECT doc_id AS id,
         {_sql_minhash_sig(0)} AS s0, {_sql_minhash_sig(1)} AS s1,
         {_sql_minhash_sig(2)} AS s2, {_sql_minhash_sig(3)} AS s3
  FROM hv_t
), banded AS (
  SELECT id, 0 AS band, s0 || '#' || s1 AS bk FROM sigs
  UNION ALL
  SELECT id, 1 AS band, s2 || '#' || s3 AS bk FROM sigs
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk
  WHERE a.id < b.id
), sh AS (
  SELECT doc_id AS id,
         list_distinct(list_transform(
           range(1, greatest(length(text) - 7, 1) + 1),
           i -> substr(text, i, 8))) AS s
  FROM base
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
FROM cand c JOIN sh a ON c.id_a = a.id JOIN sh b ON c.id_b = b.id
WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
"""


def q_lsh_topk(spark, sf_dir):
    """Sign-bucket LSH approximate top-k (pipeline/similarity.py:70):
    deterministic axis-aligned hyperplanes — SQL-reproducible."""
    from geopandas_spark.pipeline.similarity import lsh_bucket_topk
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    return lsh_bucket_topk(e, q, k=3, planes=6)


SQL_LSH_TOPK = f"""
WITH b AS (
  SELECT vec_id, embedding,
         {' + '.join(f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
                     for i in range(6))} AS bucket
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         {_sql_cos('c.embedding', 'q.embedding')} AS score
  FROM b c JOIN (SELECT * FROM b WHERE vec_id < 3) q USING (bucket)
  WHERE c.vec_id <> q.vec_id
)
SELECT q_id, c_id, score, CAST(rank AS INT) AS rank FROM (
  SELECT q_id, c_id, score,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY score DESC, c_id ASC) AS rank
  FROM scored) t WHERE rank <= 3
"""


def q_fillna(spark, sf_dir):
    """GeoFrame.fillna (reference geoseries.py:919): nulls → literal
    geometry / POINT EMPTY default."""
    from geopandas_spark import GeoFrame
    c = _cust(spark, sf_dir)
    k = F.col("c_custkey")
    holey = c.withColumn(
        "geom", F.when(k % 5 == 0, F.lit(None).cast("binary"))
                 .otherwise(F.col("geom")))
    a = GeoFrame(holey, geometry="geom").fillna()    # POINT EMPTY default
    marked = a.df.withColumn("was_empty", st.is_empty("geom"))
    reholed = marked.withColumn(
        "geom", F.when(F.col("was_empty"), F.lit(None).cast("binary"))
                 .otherwise(F.col("geom")))
    b = GeoFrame(reholed, geometry="geom").fillna("POINT (1 2)")
    return b.df.select(
        k.alias("id"),
        st.x("geom").alias("x"), st.y("geom").alias("y"), "was_empty")


SQL_FILLNA = f"""
SELECT c_custkey AS id,
       CAST(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE {PX} END AS DOUBLE) AS x,
       CAST(CASE WHEN c_custkey % 5 = 0 THEN 2 ELSE {PY} END AS DOUBLE) AS y,
       (c_custkey % 5 = 0) AS was_empty
FROM customer
"""


def q_stream_sjoin(spark, sf_dir):
    """A REAL Structured Streaming execution with a static SQL oracle:
    customer parquet read as a bounded file stream → stream-static
    spatial join into nation boxes (streaming/ops.py enrich_stream) →
    per-nation counts via foreachBatch into a temp sink; the returned
    DataFrame is the sink's content. Exercises the streaming plan
    end-to-end (micro-batches, stream-static broadcast join) while
    staying deterministically checkable."""
    import tempfile
    from geopandas_spark.streaming import enrich_stream
    d = tempfile.mkdtemp(prefix="gs_stream_")
    src = os.path.join(sf_dir, "customer.parquet")
    # the file stream source wants a directory: link the table in
    src_dir = os.path.join(d, "in")
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(src), os.path.join(src_dir, "part-0.parquet"))
    static_schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(static_schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    pts = (stream.withColumn("px", F.expr(PX)).withColumn("py", F.expr(PY))
           .withColumn("geom", st.point(F.col("px").cast("double"),
                                        F.col("py").cast("double"))))
    nat = _nat(spark, sf_dir).select("n_nationkey", "geom")
    tagged = enrich_stream(pts, nat)
    out_dir = os.path.join(d, "out")

    def sink(batch_df, batch_id):
        (batch_df.groupBy("n_nationkey").agg(F.count("*").alias("n"))
         .write.mode("append").parquet(out_dir))

    q = (tagged.writeStream.foreachBatch(sink)
         .option("checkpointLocation", os.path.join(d, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    res = spark.read.parquet(out_dir)
    return (res.groupBy("n_nationkey").agg(F.sum("n").alias("n"))
               .select(F.col("n_nationkey").alias("nationkey"),
                       F.col("n").cast("long").alias("n")))


def q_stream_lsh_dedup(spark, sf_dir):
    """REAL streaming MinHash-LSH dedup (streaming/ops.py
    lsh_dedup_stream): documents stream in two micro-batches
    (maxFilesPerTrigger=1) — originals first, exact duplicates
    (doc_id + 1000) second. Every duplicate's band signature equals its
    original's, so its bucket is already CLAIMED by batch-1 state and
    the stateful stage must flag it — detection across micro-batches,
    which batch dedup can't express. Deterministic check: the flagged
    ids >= 1000 are exactly the duplicated (shingle-bearing) doc ids;
    originals colliding among themselves are excluded by the filter."""
    import tempfile

    from geopandas_spark.streaming import lsh_dedup_stream
    d = tempfile.mkdtemp(prefix="gs_lsh_")
    base = (_t(spark, sf_dir, "documents")
            .filter((F.col("doc_id") < 100) & (F.col("n_chars") >= 8))
            .select("doc_id", "text"))
    src_dir = os.path.join(d, "in")
    base.coalesce(1).write.mode("overwrite").parquet(src_dir)
    (base.withColumn("doc_id", F.col("doc_id") + 1000)
     .coalesce(1).write.mode("append").parquet(src_dir))
    schema = spark.read.parquet(src_dir).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    out = lsh_dedup_stream(stream, id_col="doc_id", text_col="text",
                           num_hashes=4, bands=2, k=8)
    out_dir = os.path.join(d, "out")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (out.writeStream.foreachBatch(sink).outputMode("update")
         .option("checkpointLocation", os.path.join(d, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    res = spark.read.parquet(out_dir)
    return (res.filter(F.col("id").cast("long") >= 1000)
               .select(F.col("id").cast("long").alias("id")).distinct())


SQL_STREAM_LSH_DEDUP = """
SELECT DISTINCT doc_id + 1000 AS id
FROM documents
WHERE doc_id < 100 AND n_chars >= 8 AND length(text) >= 8
"""


SQL_STREAM_SJOIN = f"""
SELECT n_nationkey AS nationkey, COUNT(*) AS n
FROM customer JOIN nation
  ON {PX} >= {BX0} AND {PX} <= {BX0} + 200
 AND {PY} >= {BY0} AND {PY} <= {BY0} + 200
GROUP BY n_nationkey
"""


def q_stream_window_union(spark, sf_dir):
    """Watermarked windowed geometric union over a REAL file stream
    (streaming/ops.py windowed_union): events become points, tumbling
    1-hour windows emit each window's multipoint union + count. Oracle:
    per-hour distinct-point counts and bounds in plain SQL."""
    import tempfile
    from geopandas_spark.streaming import windowed_union
    d = tempfile.mkdtemp(prefix="gs_swin_")
    src = os.path.join(sf_dir, "events.parquet")
    src_dir = os.path.join(d, "in")
    os.makedirs(src_dir)
    os.symlink(os.path.abspath(src), os.path.join(src_dir, "part-0.parquet"))
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src_dir))
    pts = (stream.withColumn("ts", F.col("ts").cast("timestamp"))
           .withColumn(
               "geom", st.point((F.col("event_id") % 500).cast("double"),
                                (F.col("user_id") % 500).cast("double"))))
    win = windowed_union(pts, "ts", "1 hour", watermark="2 hours")
    out_dir = os.path.join(d, "out")

    def sink(batch_df, batch_id):
        (batch_df.select(F.col("window.start").alias("ws"),
                         "n", "geom")
         .write.mode("append").parquet(out_dir))

    q = (win.writeStream.foreachBatch(sink)
         .outputMode("update")
         .option("checkpointLocation", os.path.join(d, "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    res = spark.read.parquet(out_dir)
    # update-mode may emit a window more than once; keep the final state
    # (max n per window start)
    w = Window.partitionBy("ws").orderBy(F.col("n").desc())
    final = (res.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") == 1))
    return final.select(
        F.col("ws").cast("long").alias("win_start"),
        F.col("n").cast("long").alias("n_events"),
        st.ngeometries("geom").alias("n_distinct_pts"))


SQL_STREAM_WINDOW_UNION = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start,
       COUNT(*) AS n_events,
       COUNT(DISTINCT (event_id % 500) * 1000 + (user_id % 500))
           AS n_distinct_pts
FROM events
GROUP BY date_trunc('hour', ts)
"""


def q_multimodal_ops(spark, sf_dir):
    """resize_images + extract_image_features plumbing: the stub resizer
    tiles the md5 digest to the exact w*h*3 payload a real RGB resize
    would produce, so the payload head equals md5(source bytes) — SQL
    checkable; the feature extractor's contract (dim, determinism across
    two invocations) is asserted Spark-side into boolean columns."""
    from geopandas_spark.pipeline.multimodal import (extract_image_features,
                                                     resize_images)
    d = (_t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
         .withColumn("image", F.encode("text", "UTF-8")))
    r = resize_images(d, 32, 24)
    f1 = extract_image_features(r, out_col="feat_a")
    f2 = extract_image_features(f1, out_col="feat_b")
    return f2.select(
        F.col("doc_id").alias("id"),
        F.length("image_resized").cast("long").alias("n_bytes"),
        F.lower(F.hex(F.substring("image_resized", 1, 16))).alias("head"),
        F.col("resized_meta.width").alias("rw"),
        F.size("feat_a").cast("long").alias("n_feat"),
        (F.to_json(F.col("feat_a")) == F.to_json(F.col("feat_b")))
        .alias("deterministic"))


SQL_MULTIMODAL_OPS = """
SELECT doc_id AS id,
       CAST(32 * 24 * 3 AS BIGINT) AS n_bytes,
       md5(text) AS head,
       CAST(32 AS INT) AS rw,
       CAST(16 AS BIGINT) AS n_feat,
       TRUE AS deterministic
FROM documents WHERE doc_id < 300
"""


def q_pii_gopher_split(spark, sf_dir):
    """pii_scrub (regex redaction), gopher_rules (published heuristic
    quality filters), train_split (deterministic md5 train/val) — the
    standard pre-training curation pass, all codegen-native."""
    from geopandas_spark.pipeline import gopher_rules, pii_scrub, train_split
    d = _t(spark, sf_dir, "documents")
    doc = F.concat(F.col("text"),
                   F.when(F.col("doc_id") % 7 == 0,
                          F.lit(" contact bob@example.com now"))
                    .otherwise(F.lit("")))
    g = gopher_rules(d.withColumn("doc", doc), "doc")
    s = train_split(g)
    return s.select(
        F.col("doc_id").alias("id"),
        pii_scrub("doc").contains("<EMAIL>").alias("had_email"),
        pii_scrub("doc").contains("@").alias("at_left"),
        "r_words", "r_wordlen", "r_symbols", "gopher_pass", "split")


SQL_PII_GOPHER_SPLIT = r"""
WITH d AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 7 = 0
                 THEN ' contact bob@example.com now' ELSE '' END AS doc
  FROM documents
), w AS (
  SELECT doc_id, doc,
         regexp_extract_all(doc, '[A-Za-z]+') AS words,
         len(regexp_extract_all(doc, '[#…]')) AS n_sym
  FROM d
), m AS (
  SELECT doc_id, doc, len(words) AS n_words,
         CASE WHEN len(words) > 0 THEN
           CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
             / len(words) ELSE 0.0 END AS mean_wl,
         CAST(n_sym AS DOUBLE) / greatest(length(doc), 1) AS sym_ratio
  FROM w
)
SELECT doc_id AS id,
       (doc_id % 7 = 0) AS had_email,
       (regexp_matches(regexp_replace(regexp_replace(regexp_replace(doc,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b(?:\d[ -]?){15,18}\d\b', '<CARD>', 'g'),
          '\+?\d[\d\- ]{7,14}\d', '<PHONE>', 'g'), '@')) AS at_left,
       (n_words >= 5 AND n_words <= 100000) AS r_words,
       (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_wordlen,
       (sym_ratio <= 0.1) AS r_symbols,
       ((n_words >= 5 AND n_words <= 100000)
        AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
        AND sym_ratio <= 0.1) AS gopher_pass,
       CASE WHEN CAST(
              (CASE WHEN substr(md5('split-v1|' || doc_id), 1, 1) = 'a' THEN 10
                    WHEN substr(md5('split-v1|' || doc_id), 1, 1) = 'b' THEN 11
                    WHEN substr(md5('split-v1|' || doc_id), 1, 1) = 'c' THEN 12
                    WHEN substr(md5('split-v1|' || doc_id), 1, 1) = 'd' THEN 13
                    WHEN substr(md5('split-v1|' || doc_id), 1, 1) = 'e' THEN 14
                    WHEN substr(md5('split-v1|' || doc_id), 1, 1) = 'f' THEN 15
                    ELSE CAST(substr(md5('split-v1|' || doc_id), 1, 1) AS INT)
               END) * 1048576
            + (strpos('0123456789abcdef', substr(md5('split-v1|' || doc_id), 2, 1)) - 1) * 65536
            + (strpos('0123456789abcdef', substr(md5('split-v1|' || doc_id), 3, 1)) - 1) * 4096
            + (strpos('0123456789abcdef', substr(md5('split-v1|' || doc_id), 4, 1)) - 1) * 256
            + (strpos('0123456789abcdef', substr(md5('split-v1|' || doc_id), 5, 1)) - 1) * 16
            + (strpos('0123456789abcdef', substr(md5('split-v1|' || doc_id), 6, 1)) - 1)
            AS BIGINT) % 100 < 10
       THEN 'val' ELSE 'train' END AS split
FROM m
"""


def q_pack_sequences(spark, sf_dir):
    """Concat-then-chunk sequence packing (pipeline/pack.py): documents
    in doc_id order fill fixed-budget training sequences. The Spark side
    computes the global prefix sum DISTRIBUTED (range shuffle +
    per-partition totals — no single-reducer window); the twin is the
    equivalent single-node window cumsum."""
    from geopandas_spark.pipeline import pack_sequences
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = pack_sequences(d, budget=512)
    return out.select(F.col("doc_id").alias("id"), "n_tokens",
                      "tok_start", "seq_first", "seq_last", "n_seqs")


SQL_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
         AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS tok_start
  FROM t
)
SELECT doc_id AS id, n_tokens, tok_start,
       CAST(FLOOR(tok_start / 512.0) AS BIGINT) AS seq_first,
       CAST(FLOOR((tok_start + GREATEST(n_tokens, 1) - 1) / 512.0)
            AS BIGINT) AS seq_last,
       CAST(FLOOR((tok_start + GREATEST(n_tokens, 1) - 1) / 512.0)
            - FLOOR(tok_start / 512.0) + 1 AS BIGINT) AS n_seqs
FROM c
"""


def q_dedup_components(spark, sf_dir):
    """LSH candidate pairs → connected components → duplicate clusters
    (pipeline/dedup.py connected_components: iterative min-label
    propagation, the MapReduce CC family). Every node gets the min doc_id
    of its component — the survivor-selection key of dedup_by_components."""
    from geopandas_spark.pipeline import connected_components
    d = _t(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 100) & (F.col("n_chars") >= 8))
    dup = d.withColumn("doc_id", F.col("doc_id") + 1000)
    both = d.unionByName(dup)
    pairs = minhash_lsh_pairs(both, num_hashes=4, bands=2, k=8)
    return (connected_components(pairs)
            .select(F.col("id").cast("long").alias("id"),
                    F.col("comp").cast("long").alias("comp"))
            .orderBy("id"))


SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({SQL_LSH_PAIRS}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM edges),
reach(id, lab) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.lab FROM edges e JOIN reach r ON e.src = r.id
)
SELECT CAST(id AS BIGINT) AS id, CAST(MIN(lab) AS BIGINT) AS comp
FROM reach GROUP BY id ORDER BY id
"""


def q_repetition(spark, sf_dir):
    """Gopher repetition rules (pipeline/text.py repetition_stats):
    duplicate-line / duplicate-paragraph fraction and top-bigram fraction.
    The single-line fixture texts get newlines synthesized (space → \\n for
    the line test, space → \\n\\n for the paragraph test)."""
    from geopandas_spark.pipeline import repetition_stats
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    d = d.withColumn("lines_text",
                     F.regexp_replace(F.col("text"), " ", "\n"))
    d = d.withColumn("para_text",
                     F.regexp_replace(F.col("text"), " ", "\n\n"))
    a = repetition_stats(d, "lines_text").select(
        "doc_id", "dup_line_frac", "top_bigram_frac")
    b = repetition_stats(d, "para_text").select(
        "doc_id", F.col("dup_para_frac").alias("dup_para_frac2"))
    return (a.join(b, on="doc_id")
             .select(F.col("doc_id").alias("id"), "dup_line_frac",
                     F.col("dup_para_frac2").alias("dup_para_frac"),
                     "top_bigram_frac"))


SQL_REPETITION = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '),
                     x -> length(trim(x)) > 0) AS parts,
         regexp_extract_all(lower(text), '[a-z0-9]+') AS words
  FROM documents WHERE doc_id < 300
), g AS (
  SELECT doc_id, parts, words,
         CASE WHEN len(words) >= 2 THEN
           list_transform(range(1, len(words)),
                          i -> words[i] || ' ' || words[i + 1])
         ELSE [] END AS grams
  FROM w
)
SELECT doc_id AS id,
  ROUND(CASE WHEN len(parts) > 0 THEN
    CAST(len(parts) - len(list_distinct(parts)) AS DOUBLE) / len(parts)
    ELSE 0.0 END, 6) AS dup_line_frac,
  ROUND(CASE WHEN len(parts) > 0 THEN
    CAST(len(parts) - len(list_distinct(parts)) AS DOUBLE) / len(parts)
    ELSE 0.0 END, 6) AS dup_para_frac,
  ROUND(CASE WHEN len(grams) > 0 THEN
    CAST(list_max(list_transform(list_distinct(grams),
          gg -> len(list_filter(grams, x -> x = gg)))) AS DOUBLE)
      / len(grams)
    ELSE 0.0 END, 6) AS top_bigram_frac
FROM g
"""

def q_decontaminate(spark, sf_dir):
    """Benchmark-overlap decontamination (pipeline/text.py contamination /
    decontaminate): per-document count of distinct 8-gram collisions with
    a held-out "benchmark" subset (doc_id % 97 == 0 stands in for the eval
    set), plus the decontaminate() survivor count cross-check. n=3 here
    (the operator default is 8): the synthetic word-salad fixtures share
    no 8-grams, and a zero-row oracle would not exercise the join. Both sides
    join on md5(gram) so the shuffle key is skew-free; the benchmark side
    broadcasts."""
    from geopandas_spark.pipeline import contamination, decontaminate
    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    c = contamination(corpus, bench, n=3)
    hit = (c.filter(F.col("n_contaminated") > 0)
            .select(F.col("doc_id").alias("id"),
                    F.col("n_contaminated").cast("long")
                     .alias("n_contaminated")))
    n_clean = decontaminate(corpus, bench, n=3).count()
    n_corpus = corpus.count()
    assert n_clean == n_corpus - hit.count(), (n_clean, n_corpus)
    return hit


SQL_DECONTAMINATE = """
WITH tok AS (
  SELECT doc_id,
         string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id,
         UNNEST([md5(array_to_string(t[i:i+2], ' '))
                 FOR i IN range(1, len(t) - 1)]) AS gh
  FROM tok WHERE len(t) >= 3
), bench AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id % 97 = 0
), docg AS (
  SELECT DISTINCT doc_id, gh FROM grams WHERE doc_id % 97 <> 0
)
SELECT doc_id AS id, COUNT(*) AS n_contaminated
FROM docg JOIN bench USING (gh)
GROUP BY doc_id
"""

def q_char_entropy(spark, sf_dir):
    """Character-entropy quality signal (pipeline/text.py char_entropy):
    Shannon bits/char over the document's character distribution, the
    cheap gibberish/boilerplate detector curation stacks pair with the
    Gopher rules. Sorted-alphabet summation keeps the float fold order
    identical across engines; ROUND(6) absorbs ULP noise."""
    from geopandas_spark.pipeline import char_entropy
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    return d.select(F.col("doc_id").alias("id"),
                    F.round(char_entropy("text"), 6).alias("h"))


SQL_CHAR_ENTROPY = """
WITH t AS (
  SELECT doc_id, string_split(text, '') AS ch
  FROM documents WHERE doc_id < 400
)
SELECT doc_id AS id,
       ROUND(-COALESCE(list_sum(
         [ (len(list_filter(ch, x -> x = c)) * 1.0 / len(ch))
           * log2(len(list_filter(ch, x -> x = c)) * 1.0 / len(ch))
           FOR c IN list_sort(list_distinct(ch)) ]), 0.0), 6) AS h
FROM t
"""


def q_url_ops(spark, sf_dir):
    """URL normalization + domain extraction for web-corpus dedup and
    blocklist filtering (pipeline/text.py normalize_url / url_domain):
    scheme/www/fragment/tracking-param stripping, case-normalized host,
    case-preserved path — all native regexp chains."""
    from geopandas_spark.pipeline import normalize_url, url_domain
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    url = F.concat(
        F.lit("https://www.Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM/Path"), F.col("doc_id").cast("string"),
        F.lit("?utm_source=x&q="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&fbclid=zz#frag"))
    d = d.withColumn("u", url)
    return d.select(F.col("doc_id").alias("id"),
                    normalize_url("u").alias("norm"),
                    url_domain("u").alias("dom"))


SQL_URL_OPS = """
SELECT doc_id AS id,
       'site' || (doc_id % 7) || '.example.com/Path' || doc_id
           || '?q=' || (doc_id % 3) AS norm,
       'example.com' AS dom
FROM documents WHERE doc_id < 500
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ORDERING (r13 rotation; stamp-follows-change, VERDICT r8 #3):
        # the driver stamps only the FIRST 50 entries into
        # CORRECTNESS_r{N}.json. The r13 window = (a) 21 queries whose
        # backing code changed THIS round — the split-batch WKT parser
        # + identity-keyed distance peephole (distance,
        # codec_roundtrip), the sjoin NULL-attribute fix and the
        # convex-SAT center-probe refactor on the shared refine path
        # (sjoin/clip/overlay/predicates families), and the Rabin-
        # polynomial minhash re-pricing (minhash family incl. the
        # streaming LSH query); then (b) ALL 20 queries still carrying
        # r9 stamps; then (c) 9 of the r10 cohort — after this round no
        # stamp is older than r10 (rotation criterion). All 144 queries
        # run under tools/check_oracles.py regardless of position.
        "distance": q_distance,
        "codec_roundtrip": q_codec_roundtrip,
        "sjoin": q_sjoin,
        "sjoin_grid": q_sjoin_grid,
        "sjoin_nearest": q_sjoin_nearest,
        "sjoin_nearest_grid": q_sjoin_nearest_grid,
        "sjoin_nearest_xr": q_sjoin_nearest_xr,
        "predicates": q_predicates,
        "clip": q_clip,
        "clip_rect": q_clip_rect,
        "overlay_union": q_overlay_union,
        "overlay_mixed": q_overlay_mixed,
        "overlay_difference": q_overlay_difference,
        "overlay_intersection": q_overlay_intersection,
        "overlay_identity": q_overlay_identity,
        "overlay_symdiff": q_overlay_symdiff,
        "minhash": q_minhash,
        "lsh_pairs": q_lsh_pairs,
        "jaccard": q_jaccard,
        "dedup_components": q_dedup_components,
        "stream_lsh_dedup": q_stream_lsh_dedup,
        "pack_sequences": q_pack_sequences,
        "polygonize_buildarea": q_polygonize_buildarea,
        "polygonize_full": q_polygonize_full,
        "read_pushdown": q_read_pushdown,
        "relate": q_relate,
        "rt_feather": q_rt_feather,
        "rt_fgb": q_rt_fgb,
        "rt_geojsonseq": q_rt_geojsonseq,
        "rt_geoparquet": q_rt_geoparquet,
        "rt_gml": q_rt_gml,
        "rt_gpkg": q_rt_gpkg,
        "rt_kml": q_rt_kml,
        "rt_shapefile": q_rt_shapefile,
        "subdivide": q_subdivide,
        "to_crs_bng": q_to_crs_bng,
        "to_crs_laea_merc": q_to_crs_laea_merc,
        "to_crs_lambert93": q_to_crs_lambert93,
        "to_crs_utm": q_to_crs_utm,
        "union_lines": q_union_lines,
        "union_mixed": q_union_mixed,
        "cdt": q_cdt,
        "char_entropy": q_char_entropy,
        "coverage": q_coverage,
        "decontaminate": q_decontaminate,
        "dissolve": q_dissolve,
        "dissolve_aggfuncs": q_dissolve_aggfuncs,
        "dissolve_coverage": q_dissolve_coverage,
        "dissolve_mean": q_dissolve_mean,
        "explode": q_explode,
        "validity": q_validity,
        "valid_reason_orient": q_valid_reason_orient,
        "buffer": q_buffer,
        "buffer_styles": q_buffer_styles,
        "collect_bounds": q_collect_bounds,
        "mbc_mrr": q_mbc_mrr,
        "to_crs_albers": q_to_crs_albers,
        "to_crs_polar": q_to_crs_polar,
        "affine": q_affine,
        "box_distance": q_box_distance,
        "box_measures": q_box_measures,
        "convex_hull": q_convex_hull,
        "dedup_exact": q_dedup_exact,
        "embed_dedup": q_embed_dedup,
        "envelope": q_envelope,
        "fingerprint": q_fingerprint,
        "frame_sample": q_frame_sample,
        "geom_value_counts": q_geom_value_counts,
        "inscribed_clearance": q_inscribed_clearance,
        "interpolate": q_interpolate,
        "language_id": q_language_id,
        "line_metrics": q_line_metrics,
        "multimodal_meta": q_multimodal_meta,
        "point_accessors": q_point_accessors,
        "pricing_summary": q_pricing_summary,
        "project": q_project,
        "quality": q_quality,
        "revenue_by_nation": q_revenue_by_nation,
        "simhash": q_simhash,
        "to_crs": q_to_crs,
        "to_crs_parser": q_to_crs_parser,
        "token_stats": q_token_stats,
        "window_top_orders": q_window_top_orders,
        "affine3d": q_affine3d,
        "boundary": q_boundary,
        "concave": q_concave,
        "delaunay": q_delaunay,
        "gc_setops": q_gc_setops,
        "geomcollection": q_geomcollection,
        "grid_size": q_grid_size,
        "list_layers": q_list_layers,
        "offset_eq": q_offset_eq,
        "cosine_topk": q_cosine_topk,
        "ivf_topk": q_ivf_topk,
        "lsh_topk": q_lsh_topk,
        "chunk_docs": q_chunk_docs,
        "concat_cx": q_concat_cx,
        "coords_dump": q_coords_dump,
        "densify_distances": q_densify_distances,
        "embed_quantize": q_embed_quantize,
        "estimate_utm": q_estimate_utm,
        "fgb_bbox_paths": q_fgb_bbox_paths,
        "fillna": q_fillna,
        "geometry_n": q_geometry_n,
        "line_merge": q_line_merge,
        "m_coords": q_m_coords,
        "multimodal_ops": q_multimodal_ops,
        "pii_gopher_split": q_pii_gopher_split,
        "ring_flags": q_ring_flags,
        "rotate_skew": q_rotate_skew,
        "sample_poisson": q_sample_poisson,
        "sample_pts": q_sample_pts,
        "stream_sjoin": q_stream_sjoin,
        "stream_stream_join": q_stream_stream_join,
        "stream_window_union": q_stream_window_union,
        "to_crs_epsg_table": q_to_crs_epsg_table,
        "to_crs_gk": q_to_crs_gk,
        "to_crs_jp_spcs": q_to_crs_jp_spcs,
        "to_crs_natl": q_to_crs_natl,
        "to_crs_somerc": q_to_crs_somerc,
        "to_crs_spcs": q_to_crs_spcs,
        "to_crs_tm_more": q_to_crs_tm_more,
        "trajectory": q_trajectory,
        "transform_apply": q_transform_apply,
        "unique_rep": q_unique_rep,
        "make_valid": q_make_valid,
        "make_valid_linework": q_make_valid_linework,
        "repetition": q_repetition,
        "url_ops": q_url_ops,
        "exterior_interiors": q_exterior_interiors,
        "normalize_reverse": q_normalize_reverse,
        "segmentize_rrp": q_segmentize_rrp,
        "set_precision": q_set_precision,
        "tco": q_tco,
        "voronoi": q_voronoi,
        "z_coords": q_z_coords,
        "setops": q_setops,
        "union_boxes": q_union_boxes,
        "union_overlap": q_union_overlap,
        "hilbert": q_hilbert,
        "shared_paths": q_shared_paths,
        "intersection_all": q_intersection_all,
        "snap": q_snap,
        "simplify": q_simplify,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "to_crs_parser": SQL_TO_CRS_PARSER,
        "simplify": SQL_SIMPLIFY,
        "snap": SQL_SNAP,
        "make_valid": SQL_MAKE_VALID,
        "line_merge": SQL_LINE_MERGE,
        "delaunay": SQL_DELAUNAY,
        "concave": SQL_CONCAVE,
        "mbc_mrr": SQL_MBC_MRR,
        "normalize_reverse": SQL_NORMALIZE_REVERSE,
        "segmentize_rrp": SQL_SEGMENTIZE_RRP,
        "rotate_skew": SQL_ROTATE_SKEW,
        "relate": SQL_RELATE,
        "polygonize_buildarea": SQL_POLYGONIZE_BUILDAREA,
        "tco": SQL_TCO,
        "exterior_interiors": SQL_EXTERIOR_INTERIORS,
        "transform_apply": SQL_TRANSFORM_APPLY,
        "set_precision": SQL_SET_PRECISION,
        "voronoi": SQL_VORONOI,
        "z_coords": SQL_Z_COORDS,
        "m_coords": SQL_M_COORDS,
        "to_crs_jp_spcs": SQL_TO_CRS_JP_SPCS,
        "to_crs_natl": SQL_TO_CRS_NATL,
        "chunk_docs": SQL_CHUNK_DOCS,
        "stream_lsh_dedup": SQL_STREAM_LSH_DEDUP,
        "polygonize_full": SQL_POLYGONIZE_FULL,
        "geomcollection": SQL_GEOMCOLLECTION,
        "to_crs_utm": SQL_TO_CRS_UTM,
        "to_crs_bng": SQL_TO_CRS_BNG,
        "to_crs_lambert93": SQL_TO_CRS_LAMBERT93,
        "to_crs_polar": SQL_TO_CRS_POLAR,
        "to_crs_albers": SQL_TO_CRS_ALBERS,
        "to_crs_laea_merc": SQL_TO_CRS_LAEA_MERC,
        "buffer_styles": SQL_BUFFER_STYLES,
        "grid_size": SQL_GRID_SIZE,
        "rt_geoparquet": _SQL_RT,
        "rt_shapefile": _SQL_RT,
        "rt_gpkg": _SQL_RT,
        "rt_geojsonseq": _SQL_RT,
        "rt_feather": _SQL_RT,
        "rt_kml": _SQL_RT,
        "rt_gml": _SQL_RT,
        "rt_fgb": _SQL_RT,
        "read_pushdown": SQL_READ_PUSHDOWN,
        "list_layers": SQL_LIST_LAYERS,
        "overlay_union": SQL_OVERLAY_UNION,
        "overlay_mixed": SQL_OVERLAY_MIXED,
        "affine3d": SQL_AFFINE3D,
        "dedup_components": SQL_DEDUP_COMPONENTS,
        "pack_sequences": SQL_PACK_SEQUENCES,
        "repetition": SQL_REPETITION,
        "decontaminate": SQL_DECONTAMINATE,
        "char_entropy": SQL_CHAR_ENTROPY,
        "url_ops": SQL_URL_OPS,
        "overlay_identity": SQL_OVERLAY_IDENTITY,
        "overlay_symdiff": SQL_OVERLAY_SYMDIFF,
        "dissolve_mean": SQL_DISSOLVE_MEAN,
        "dissolve_aggfuncs": SQL_DISSOLVE_AGGFUNCS,
        "dissolve_coverage": SQL_DISSOLVE_COVERAGE,
        "to_crs_gk": SQL_TO_CRS_GK,
        "to_crs_spcs": SQL_TO_CRS_SPCS,
        "to_crs_somerc": SQL_TO_CRS_SOMERC,
        "make_valid_linework": SQL_MAKE_VALID_LINEWORK,
        "sample_poisson": SQL_SAMPLE_POISSON,
        "to_crs_tm_more": SQL_TO_CRS_TM_MORE,
        "subdivide": SQL_SUBDIVIDE,
        "trajectory": SQL_TRAJECTORY,
        "embed_quantize": SQL_EMBED_QUANTIZE,
        "concat_cx": SQL_CONCAT_CX,
        "densify_distances": SQL_DENSIFY_DISTANCES,
        "jaccard": SQL_JACCARD,
        "lsh_topk": SQL_LSH_TOPK,
        "fillna": SQL_FILLNA,
        "stream_sjoin": SQL_STREAM_SJOIN,
        "stream_window_union": SQL_STREAM_WINDOW_UNION,
        "stream_stream_join": SQL_STREAM_STREAM_JOIN,
        "multimodal_ops": SQL_MULTIMODAL_OPS,
        "pii_gopher_split": SQL_PII_GOPHER_SPLIT,
        "codec_roundtrip": SQL_CODEC_ROUNDTRIP,
        "ring_flags": SQL_RING_FLAGS,
        "unique_rep": SQL_UNIQUE_REP,
        "collect_bounds": SQL_COLLECT_BOUNDS,
        "coords_dump": SQL_COORDS_DUMP,
        "offset_eq": SQL_OFFSET_EQ,
        "clip_rect": SQL_CLIP_RECT,
        "geometry_n": SQL_GEOMETRY_N,
        "sample_pts": SQL_SAMPLE_PTS,
        "estimate_utm": SQL_ESTIMATE_UTM,
        "valid_reason_orient": SQL_VALID_REASON_ORIENT,
        "point_accessors": SQL_POINT_ACCESSORS,
        "box_measures": SQL_BOX_MEASURES,
        "distance": SQL_DISTANCE,
        "predicates": SQL_PREDICATES,
        "buffer": SQL_BUFFER,
        "convex_hull": SQL_CONVEX_HULL,
        "clip": SQL_CLIP,
        "affine": SQL_AFFINE,
        "sjoin": SQL_SJOIN,
        "sjoin_grid": SQL_SJOIN_GRID,
        "sjoin_nearest": SQL_SJOIN_NEAREST,
        "sjoin_nearest_grid": SQL_SJOIN_NEAREST_GRID,
        "sjoin_nearest_xr": SQL_SJOIN_NEAREST,
        "dissolve": SQL_DISSOLVE,
        "union_boxes": SQL_UNION_BOXES,
        "union_lines": SQL_UNION_LINES,
        "union_mixed": SQL_UNION_MIXED,
        "gc_setops": SQL_GC_SETOPS,
        "to_crs_epsg_table": SQL_TO_CRS_EPSG_TABLE,
        "fgb_bbox_paths": SQL_FGB_BBOX_PATHS,
        "union_overlap": SQL_UNION_OVERLAP,
        "setops": SQL_SETOPS,
        "overlay_intersection": SQL_OVERLAY_INTERSECTION,
        "overlay_difference": SQL_OVERLAY_DIFFERENCE,
        "line_metrics": SQL_LINE_METRICS,
        "box_distance": SQL_BOX_DISTANCE,
        "to_crs": SQL_TO_CRS,
        "explode": SQL_EXPLODE,
        "envelope": SQL_ENVELOPE,
        "validity": SQL_VALIDITY,
        "interpolate": SQL_INTERPOLATE,
        "project": SQL_PROJECT,
        "hilbert": SQL_HILBERT,
        "inscribed_clearance": SQL_INSCRIBED_CLEARANCE,
        "intersection_all": SQL_INTERSECTION_ALL,
        "shared_paths": SQL_SHARED_PATHS,
        "cdt": SQL_CDT,
        "coverage": SQL_COVERAGE,
        "dedup_exact": SQL_DEDUP_EXACT,
        "token_stats": SQL_TOKEN_STATS,
        "fingerprint": SQL_FINGERPRINT,
        "minhash": SQL_MINHASH,
        "lsh_pairs": SQL_LSH_PAIRS,
        "cosine_topk": SQL_COSINE_TOPK,
        "simhash": SQL_SIMHASH,
        "language_id": SQL_LANGUAGE_ID,
        "quality": SQL_QUALITY,
        "window_top_orders": SQL_WINDOW_TOP_ORDERS,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "revenue_by_nation": SQL_REVENUE_BY_NATION,
        "multimodal_meta": SQL_MULTIMODAL_META,
        "ivf_topk": SQL_IVF_TOPK,
        "embed_dedup": SQL_EMBED_DEDUP,
        "geom_value_counts": SQL_GEOM_VALUE_COUNTS,
        "frame_sample": SQL_FRAME_SAMPLE,
        "boundary": SQL_BOUNDARY,
    }
