"""The timed queries, their input row counts and their reference answers.

A query's ``build`` is everything from the first engine call (the
operator or ``st`` call) to the finished lazy DataFrame; the benchmark
times ``build`` plus a full drain of the result. Operators may run eager
jobs (collects, probes, k-means) inside ``build``, which is why it sits
inside the clock.

Reference answers are computed with numpy from the generator's own
arrays -- closed forms for the elementwise queries and plain geometry
for the joins -- never from an earlier engine output.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

import numpy as np

from perfbench import inputs as gen

BUFFER_R = 0.01
QUAD_SEGS = 8


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable          # (Frames) -> DataFrame
    rows: Callable           # (Inputs) -> input rows one execution consumes
    check: Callable          # (pyarrow.Table, Inputs) -> error str | None
    operator: bool           # build calls an operator (eager jobs possible)
    group: str               # end-to-end metric q.<group>.pass_s it adds to
    timed: bool = True       # False: checked and traced, never timed


@dataclass
class Frames:
    """The workload's GeoParquet tables as lazy Spark DataFrames."""
    points: object
    polys: object
    sites: object


# ---------------------------------------------------------------------------
# builds
# ---------------------------------------------------------------------------

def _buffer_area(fr: Frames):
    from pyspark.sql import functions as F

    from geopandas_spark import st
    b = st.buffer("geom", F.lit(BUFFER_R), quad_segs=QUAD_SEGS)
    c = st.centroid(b)
    return fr.points.select("id", st.area(b).alias("area"),
                            st.x(c).alias("cx"), st.y(c).alias("cy"))


def _predicates(fr: Frames):
    from pyspark.sql import functions as F

    from geopandas_spark import st
    return fr.points.select(
        "id",
        st.contains("zone", "geom").alias("contains"),
        st.intersects("zone", "geom").alias("intersects"),
        st.within("geom", "zone").alias("within"),
        st.disjoint("geom", "zone").alias("disjoint"),
        st.covers("zone", "geom").alias("covers"),
        st.dwithin("geom", "zone", F.lit(0.0)).alias("dwithin0"))


def _to_crs(fr: Frames):
    from geopandas_spark import st
    m = st.to_crs("geom", "EPSG:4326", "EPSG:3857")
    return fr.points.select("id", st.x(m).alias("mx"), st.y(m).alias("my"))


def _sjoin(strategy: str):
    def build(fr: Frames):
        from pyspark.sql import functions as F

        from geopandas_spark.operators import sjoin
        j = sjoin(fr.points.select("val", "geom"),
                  fr.polys.select("pid", "geom"),
                  predicate="intersects", strategy=strategy)
        return j.groupBy("pid").agg(F.count("*").alias("n"),
                                    F.sum("val").alias("val_sum"))
    return build


def _sjoin_nearest(fr: Frames):
    from geopandas_spark.operators import sjoin_nearest
    j = sjoin_nearest(fr.points.select("id", "geom"),
                      fr.sites.select("sid", "geom"), distance_col="dist")
    return j.select("id", "sid", "dist")


def _dissolve(fr: Frames):
    from pyspark.sql import functions as F

    from geopandas_spark import st
    from geopandas_spark.operators import dissolve
    d = dissolve(fr.points.select("key", "val", "geom"), "key",
                 {"val": "sum"})
    return d.select("key", st.ngeometries("geom").alias("n_loc"),
                    F.col("val_sum").cast("long").alias("val_sum"))


# ---------------------------------------------------------------------------
# reference answers and checks
# ---------------------------------------------------------------------------

def _sorted(t, key):
    import pyarrow.compute as pc
    return t.take(pc.sort_indices(t, [(key, "ascending")]))


def _col(t, name):
    return t.column(name).to_numpy(zero_copy_only=False)


def _expect_ids(t, n, key="id") -> Optional[str]:
    if t.num_rows != n:
        return f"{t.num_rows} rows, expected {n}"
    if not np.array_equal(_col(t, key), np.arange(n)):
        return f"{key} column is not 0..{n - 1}"
    return None


def _close(name, got, want, rtol=1e-9, atol=0.0) -> Optional[str]:
    bad = ~np.isclose(got, want, rtol=rtol, atol=atol)
    if bad.any():
        i = int(np.argmax(bad))
        return (f"{name}: {int(bad.sum())} rows differ, first at {i}: "
                f"{got[i]!r} != {want[i]!r}")
    return None


def _first_error(*errs) -> Optional[str]:
    return next((e for e in errs if e), None)


def _check_buffer_area(t, inp) -> Optional[str]:
    t = _sorted(t, "id")
    n = 4 * QUAD_SEGS
    area = 0.5 * n * BUFFER_R ** 2 * np.sin(2 * np.pi / n)
    # the shoelace sum cancels terms of size |coord| * r ~ 5000 r^2, so
    # the area carries a relative error of ~1e-16 * 5000^2 ~ 1e-9
    return _expect_ids(t, len(inp.px)) or _first_error(
        _close("area", _col(t, "area"), np.full(len(inp.px), area),
               rtol=1e-7),
        _close("cx", _col(t, "cx"), inp.px, rtol=0, atol=1e-7),
        _close("cy", _col(t, "cy"), inp.py, rtol=0, atol=1e-7))


def _check_predicates(t, inp) -> Optional[str]:
    t = _sorted(t, "id")
    z = inp.zone
    inner = ((inp.px > z[:, 0]) & (inp.px < z[:, 2]) &
             (inp.py > z[:, 1]) & (inp.py < z[:, 3]))
    closed = ((inp.px >= z[:, 0]) & (inp.px <= z[:, 2]) &
              (inp.py >= z[:, 1]) & (inp.py <= z[:, 3]))
    want = {"contains": inner, "intersects": closed, "within": inner,
            "disjoint": ~closed, "covers": closed, "dwithin0": closed}
    err = _expect_ids(t, len(inp.px))
    for name, w in want.items():
        g = _col(t, name).astype(bool)
        if err is None and not np.array_equal(g, w):
            err = f"{name}: {int((g != w).sum())} rows differ"
    return err


def _check_to_crs(t, inp) -> Optional[str]:
    t = _sorted(t, "id")
    r = 6378137.0
    mx = np.radians(inp.px) * r
    my = np.log(np.tan(np.pi / 4 + np.radians(inp.py) / 2)) * r
    return _expect_ids(t, len(inp.px)) or _first_error(
        _close("mx", _col(t, "mx"), mx, rtol=0, atol=1e-6),
        _close("my", _col(t, "my"), my, rtol=0, atol=1e-6))


def tile_of(inp):
    """pid of the polygon containing each point (boundary included), or
    -1; only the polygon of the point's own grid cell can contain it."""
    tw = (gen.X1 - gen.X0) / gen.TILES
    th = (gen.Y1 - gen.Y0) / gen.TILES
    ix = np.clip(np.floor((inp.px - gen.X0) / tw).astype(np.int64),
                 0, gen.TILES - 1)
    iy = np.clip(np.floor((inp.py - gen.Y0) / th).astype(np.int64),
                 0, gen.TILES - 1)
    pid = iy * gen.TILES + ix
    q = inp.tiles[pid]                      # (n, 4, 2) CCW corners
    e = np.roll(q, -1, axis=1) - q          # edge vectors
    # closed convex polygon: the point is left of or on every edge
    cross = (e[:, :, 0] * (inp.py[:, None] - q[:, :, 1]) -
             e[:, :, 1] * (inp.px[:, None] - q[:, :, 0]))
    return np.where((cross >= 0).all(axis=1), pid, -1)


def _check_sjoin(t, inp) -> Optional[str]:
    pid = tile_of(inp)
    hit = pid >= 0
    n = np.bincount(pid[hit], minlength=len(inp.tiles))
    s = np.bincount(pid[hit], weights=inp.val[hit], minlength=len(inp.tiles))
    want = np.flatnonzero(n)
    t = _sorted(t, "pid")
    got = _col(t, "pid")
    if not np.array_equal(got, want):
        return f"{len(got)} matched polygons, expected {len(want)}"
    if not np.array_equal(_col(t, "n"), n[want]):
        return "per-polygon match counts differ"
    if not np.array_equal(_col(t, "val_sum"), s[want].astype(np.int64)):
        return "per-polygon val sums differ"
    return None


def nearest_ref(qx, qy, sx, sy, chunk=1_000):
    """(index, distance) of the nearest site for every query point, by
    brute force over all sites, ``chunk`` query points at a time."""
    best_i = np.empty(len(qx), dtype=np.int64)
    for lo in range(0, len(qx), chunk):
        dx = sx - qx[lo:lo + chunk, None]
        dy = sy - qy[lo:lo + chunk, None]
        best_i[lo:lo + chunk] = np.argmin(dx * dx + dy * dy, axis=1)
    return best_i, np.hypot(sx[best_i] - qx, sy[best_i] - qy)


def _check_nearest(t, inp) -> Optional[str]:
    t = _sorted(t, "id")
    err = _expect_ids(t, len(inp.px))
    if err:
        return err
    u, inv = np.unique(np.stack([inp.px, inp.py], axis=1), axis=0,
                       return_inverse=True)
    inv = inv.ravel()
    bi, bd = nearest_ref(u[:, 0], u[:, 1], inp.sx, inp.sy)
    if not np.array_equal(_col(t, "sid"), bi[inv]):
        return f"{int((_col(t, 'sid') != bi[inv]).sum())} nearest sids differ"
    return _close("dist", _col(t, "dist"), bd[inv], rtol=1e-12)


def _check_dissolve(t, inp) -> Optional[str]:
    keys = np.unique(inp.key)
    t = _sorted(t, "key")
    if not np.array_equal(_col(t, "key"), keys):
        return f"{t.num_rows} groups, expected {len(keys)}"
    loc = np.unique(np.stack([inp.key.astype(np.float64), inp.px, inp.py],
                             axis=1), axis=0)
    n_loc = np.bincount(loc[:, 0].astype(np.int64), minlength=gen.N_KEYS)
    s = np.bincount(inp.key, weights=inp.val, minlength=gen.N_KEYS)
    if not np.array_equal(_col(t, "n_loc"), n_loc[keys]):
        return "distinct locations per key differ"
    if not np.array_equal(_col(t, "val_sum"), s[keys].astype(np.int64)):
        return "val sums per key differ"
    return None


def _n_pts(inp):
    return len(inp.px)


QUERIES = (
    Query("buffer_area", _buffer_area, _n_pts, _check_buffer_area, False,
          "st"),
    Query("predicates", _predicates, _n_pts, _check_predicates, False, "st"),
    Query("to_crs", _to_crs, _n_pts, _check_to_crs, False, "st"),
    Query("sjoin_broadcast", _sjoin("broadcast"),
          lambda inp: len(inp.px) + len(inp.tiles), _check_sjoin, True,
          "sjoin"),
    Query("sjoin_grid", _sjoin("grid"),
          lambda inp: len(inp.px) + len(inp.tiles), _check_sjoin, True,
          "sjoin"),
    Query("sjoin_nearest", _sjoin_nearest,
          lambda inp: len(inp.px) + len(inp.sx), _check_nearest, True,
          "sjoin"),
    # dissolve always runs 64 Python tasks (~6 s here whatever the input
    # size); timing it would not fit a run, so only --trace 1 runs it
    Query("dissolve", _dissolve, _n_pts, _check_dissolve, True, "dissolve",
          timed=False),
)
