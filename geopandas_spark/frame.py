"""GeoFrame: the engine's GeoDataFrame analogue (SURVEY.md §1.1).

Reference: GeoDataFrame (geopandas/geodataframe.py:83,143-148) — a frame
with zero or more geometry columns and one "active" geometry tracked in
``_geometry_column_name``. Here it is a THIN wrapper over a
``pyspark.sql.DataFrame``: geometry stays a WKB BinaryType column, the
wrapper records the active column name and per-column CRS, and every
spatial method delegates to the ``st`` column functions / ``operators``
composed plans. The wrapped DataFrame is always accessible (``.df``), and
nothing here adds any execution step — the wrapper is pure bookkeeping, so
Catalyst sees exactly the plan you'd write by hand.

CRS (reference GeometryArray._crs, geopandas/array.py:405-434): tracked in
the wrapper and mirrored into ``StructField.metadata`` (survives parquet
round-trips) via ``withMetadata``. ``set_crs`` is metadata-only assignment
(reference geoseries.py:1083); ``to_crs`` reprojects through the
coordinate transform UDF and updates the metadata.
"""

from __future__ import annotations

import warnings
from typing import Optional

from pyspark.sql import Column, DataFrame, functions as F

from geopandas_spark.functions import st
from geopandas_spark.geom.crs import _norm, is_geographic


class _CxIndexer:
    """Reference ``GeoDataFrame.cx`` (geopandas/base.py:6206-6240): bbox
    intersection filter via slice syntax ``gf.cx[x0:x1, y0:y1]``; open
    ends supported."""

    def __init__(self, gf: "GeoFrame"):
        self._gf = gf

    def __getitem__(self, key):
        xs, ys = key
        g = self._gf.geometry
        b = st.bounds(g)
        conds = []
        if xs.start is not None:
            conds.append(b.getField("xmax") >= float(xs.start))
        if xs.stop is not None:
            conds.append(b.getField("xmin") <= float(xs.stop))
        if ys.start is not None:
            conds.append(b.getField("ymax") >= float(ys.start))
        if ys.stop is not None:
            conds.append(b.getField("ymin") <= float(ys.stop))
        cond = conds[0] if conds else F.lit(True)
        for c in conds[1:]:
            cond = cond & c
        return self._gf._wrap(self._gf.df.filter(cond))


class GeoFrame:
    def __init__(self, df: DataFrame, geometry: str = "geom",
                 crs: Optional[dict | str] = None):
        if geometry not in df.columns:
            raise ValueError(f"geometry column {geometry!r} not in frame "
                             f"(columns: {df.columns})")
        self.df = df
        self._geometry = geometry
        if crs is None:
            crs = {}
        elif isinstance(crs, str):
            crs = {geometry: crs}
        self._crs = dict(crs)

    # -- bookkeeping --------------------------------------------------------

    def _wrap(self, df: DataFrame, geometry: Optional[str] = None,
              crs: Optional[dict] = None) -> "GeoFrame":
        g = geometry or self._geometry
        c = dict(self._crs if crs is None else crs)
        c = {k: v for k, v in c.items() if k in df.columns}
        return GeoFrame(df, geometry=g, crs=c)

    @property
    def active_geometry_name(self) -> str:
        """Reference GeoDataFrame.active_geometry_name
        (geodataframe.py:304)."""
        return self._geometry

    @property
    def geometry(self) -> Column:
        return F.col(self._geometry)

    @property
    def crs(self) -> Optional[str]:
        return self._crs.get(self._geometry)

    def set_geometry(self, name: str) -> "GeoFrame":
        """Switch the active geometry column (reference
        geodataframe.py:1913)."""
        if name not in self.df.columns:
            raise ValueError(f"no column {name!r}")
        return self._wrap(self.df, geometry=name)

    def rename_geometry(self, new_name: str) -> "GeoFrame":
        df = self.df.withColumnRenamed(self._geometry, new_name)
        crs = dict(self._crs)
        if self._geometry in crs:
            crs[new_name] = crs.pop(self._geometry)
        return GeoFrame(df, geometry=new_name, crs=crs)

    # -- CRS ----------------------------------------------------------------

    def set_crs(self, crs: str, *, allow_override: bool = False) -> "GeoFrame":
        """Metadata-only CRS assignment (reference geoseries.py:1083):
        never transforms coordinates."""
        cur = self._crs.get(self._geometry)
        if cur is not None and not allow_override and _norm(cur) != _norm(crs):
            raise ValueError(
                f"geometry already has CRS {cur!r}; pass "
                "allow_override=True to replace it (set_crs never "
                "reprojects — use to_crs)")
        out = dict(self._crs)
        out[self._geometry] = crs
        df = self.df.withMetadata(self._geometry,
                                  {"crs": crs, "encoding": "WKB"})
        return self._wrap(df, crs=out)

    def to_crs(self, crs: str) -> "GeoFrame":
        """Actual reprojection of the active geometry (reference
        array.py:1098-1187); no-op when already in the target CRS."""
        cur = self._crs.get(self._geometry)
        if cur is None:
            raise ValueError("cannot to_crs: frame has no CRS; set_crs first")
        if _norm(cur) == _norm(crs):
            return self
        df = self.df.withColumn(
            self._geometry, st.to_crs(self.geometry, cur, crs))
        df = df.withMetadata(self._geometry, {"crs": crs, "encoding": "WKB"})
        out = dict(self._crs)
        out[self._geometry] = crs
        return self._wrap(df, crs=out)

    def estimate_utm_crs(self) -> str:
        """UTM CRS covering the frame's extent centre (reference
        geoseries.py estimate_utm_crs / array.py:1190-1270): one native
        min/max aggregation over the bounds struct, then pure zone
        arithmetic — no full-geometry collect."""
        from geopandas_spark.geom.crs import estimate_utm_crs as _est
        from pyspark.sql import functions as F
        b = (self.df.withColumn("__b__", st.bounds(self.geometry))
             .agg(F.min("__b__.xmin").alias("x0"),
                  F.min("__b__.ymin").alias("y0"),
                  F.max("__b__.xmax").alias("x1"),
                  F.max("__b__.ymax").alias("y1"))
             .collect()[0])
        return _est((b.x0 + b.x1) / 2.0, (b.y0 + b.y1) / 2.0)

    # -- filters ------------------------------------------------------------

    @property
    def cx(self) -> _CxIndexer:
        return _CxIndexer(self)

    def filter(self, cond) -> "GeoFrame":
        return self._wrap(self.df.filter(cond))

    def select(self, *cols) -> DataFrame:
        return self.df.select(*cols)

    # -- elementwise sugar (each returns a new GeoFrame / adds a column) ----

    def with_column(self, name: str, col: Column) -> "GeoFrame":
        return self._wrap(self.df.withColumn(name, col))

    def _check_geographic_crs(self, op: str) -> None:
        """Reference guardrail (geopandas/array.py:435-446,
        check_geographic_crs): warn when a planar operation runs on a
        geographic (degree-unit) CRS. Reference call sites: area,
        length, centroid, dwithin, distance, hausdorff/frechet, buffer,
        interpolate (array.py:608-946) and sjoin_nearest both sides
        (tools/sjoin.py:714-715)."""
        if is_geographic(self._crs.get(self._geometry)):
            warnings.warn(
                f"Geometry is in a geographic CRS. Results from '{op}' "
                "are likely incorrect. Use 'to_crs()' to re-project "
                "geometries to a projected CRS before this operation.",
                UserWarning, stacklevel=3)

    def buffer(self, distance, **kw) -> "GeoFrame":
        self._check_geographic_crs("buffer")
        return self.with_column(self._geometry,
                                st.buffer(self.geometry, distance, **kw))

    def centroid(self) -> "GeoFrame":
        self._check_geographic_crs("centroid")
        return self.with_column(self._geometry, st.centroid(self.geometry))

    def simplify(self, tolerance) -> "GeoFrame":
        return self.with_column(self._geometry,
                                st.simplify(self.geometry, tolerance))

    def subdivide(self, max_vertices: int = 256) -> "GeoFrame":
        """One row per bounded-vertex piece (engine-added ST_Subdivide
        analogue; see st.subdivide) — the pre-join step for monster
        polygons at scale."""
        out = (self.df
               .withColumn("__sd__", st.subdivide(self.geometry,
                                                  max_vertices))
               # explode_outer: NULL-geometry rows keep one NULL piece
               # (other GeoFrame ops preserve missing-geometry rows)
               .withColumn(self._geometry, F.explode_outer("__sd__"))
               .drop("__sd__"))
        return self._wrap(out)

    def area(self, name: str = "area") -> "GeoFrame":
        self._check_geographic_crs("area")
        return self.with_column(name, st.area(self.geometry))

    def length(self, name: str = "length") -> "GeoFrame":
        self._check_geographic_crs("length")
        return self.with_column(name, st.length(self.geometry))

    def bounds(self, name: str = "bounds") -> "GeoFrame":
        return self.with_column(name, st.bounds(self.geometry))

    def fillna(self, value=None) -> "GeoFrame":
        """Fill missing geometry (reference geoseries.py:919): with a
        geometry WKB literal, or GEOMETRYCOLLECTION-free empty default
        (POINT EMPTY)."""
        if value is None:
            value = st.geom_from_text(F.lit("POINT EMPTY"))
        elif isinstance(value, (bytes, bytearray)):
            value = F.lit(bytes(value))
        elif isinstance(value, str):
            value = st.geom_from_text(F.lit(value))
        return self.with_column(
            self._geometry, F.coalesce(self.geometry, value))

    def total_bounds(self):
        """(minx, miny, maxx, maxy) over the frame — one native agg job
        (reference base.py:5288)."""
        from geopandas_spark.operators import total_bounds as _tb
        return _tb(self.df, geom=self._geometry)

    def union_all(self, method: str = "unary"):
        """One geometry: the union of every row (reference
        base.py:2500-2553 GeoSeries.union_all) — the distributed
        two-phase union agg, one WKB value back to the driver."""
        from pyspark.sql import functions as F

        from geopandas_spark import st as _st
        r = self.df.agg(
            _st.union_agg(self._geometry, method=method).alias("u")
        ).collect()[0]
        return bytes(r.u) if r.u is not None else None

    def unary_union(self):
        """Deprecated reference spelling of union_all (geoseries.py)."""
        return self.union_all()

    def unique(self) -> DataFrame:
        """Distinct geometries by WKB byte equality (reference
        array.py:1688-1706 factorize-via-WKB semantics) — native."""
        return self.df.select(self._geometry).distinct()

    def value_counts(self) -> DataFrame:
        """Per-geometry row counts by WKB byte equality — native
        groupBy, descending like the pandas surface."""
        from pyspark.sql import functions as F
        return (self.df.groupBy(self._geometry)
                .agg(F.count("*").alias("count"))
                .orderBy(F.col("count").desc()))

    # -- composed operators --------------------------------------------------

    def sjoin(self, other: "GeoFrame | DataFrame", **kw) -> "GeoFrame":
        from geopandas_spark.operators import sjoin as _sjoin
        if kw.get("predicate") == "dwithin":
            # metric predicate — same guardrail as the reference's
            # array-level dwithin (array.py:842)
            self._check_geographic_crs("sjoin")
        odf = other.df if isinstance(other, GeoFrame) else other
        ogeom = (other.active_geometry_name
                 if isinstance(other, GeoFrame) else kw.pop("geom_right", "geom"))
        out = _sjoin(self.df, odf, geom_left=self._geometry,
                     geom_right=ogeom, **kw)
        gname = (self._geometry if self._geometry in out.columns
                 else f"{self._geometry}_left")
        return GeoFrame(out, geometry=gname, crs=self._crs)

    def dissolve(self, by, aggfunc=None, **kw) -> "GeoFrame":
        from geopandas_spark.operators import dissolve as _dissolve
        out = _dissolve(self.df, by, aggfunc, geom=self._geometry, **kw)
        return GeoFrame(out, geometry=self._geometry, crs=self._crs)

    def clip(self, mask, **kw) -> "GeoFrame":
        from geopandas_spark.operators import clip as _clip
        out = _clip(self.df, mask, geom=self._geometry, **kw)
        return self._wrap(out)

    def overlay(self, other: "GeoFrame | DataFrame", how="intersection",
                **kw) -> "GeoFrame":
        from geopandas_spark.operators import overlay as _overlay
        odf = other.df if isinstance(other, GeoFrame) else other
        out = _overlay(self.df, odf, how=how, **kw)
        return GeoFrame(out, geometry="geom" if "geom" in out.columns
                        else self._geometry, crs=self._crs)

    def explode(self, **kw) -> "GeoFrame":
        from geopandas_spark.operators import explode as _explode
        out = _explode(self.df, geom=self._geometry, **kw)
        return self._wrap(out)

    # -- GeoJSON feature export (driver-side, like the reference's) ----------

    def iterfeatures(self, na: str = "null", show_bbox: bool = False,
                     drop_id: bool = False):
        """Generator of GeoJSON feature dicts (reference
        geodataframe.py:1077-1176 iterfeatures). Geometry → GeoJSON and
        per-feature bounds are computed distributed (st_asgeojson /
        st_bounds codegen plans); only the serialized features stream to
        the driver via toLocalIterator — one partition in memory at a
        time, same ceiling as the reference's per-row generator."""
        import json as _json
        import math

        if na not in ("null", "drop", "keep"):
            raise ValueError(f"Unknown na kwarg {na!r}")
        g = self._geometry
        props = [c for c in self.df.columns if c != g]
        sel = [st.as_geojson(g).alias("__gj__"),
               st.bounds(g).alias("__bb__")] + [F.col(c) for c in props]
        for i, row in enumerate(self.df.select(*sel).toLocalIterator()):
            d = row.asDict()
            gj = d.pop("__gj__")
            bb = d.pop("__bb__")
            if na == "drop":
                d = {k: v for k, v in d.items()
                     if v is not None and not (isinstance(v, float)
                                               and math.isnan(v))}
            feat = {"type": "Feature", "properties": d,
                    "geometry": _json.loads(gj) if gj is not None else None}
            if not drop_id:
                feat = {"id": str(i), **feat}
            if show_bbox and bb is not None:
                feat["bbox"] = tuple(bb)
            yield feat

    @property
    def __geo_interface__(self):
        """The python geo interface (reference geodataframe.py:984):
        FeatureCollection dict with per-feature bbox."""
        return {"type": "FeatureCollection",
                "features": list(self.iterfeatures(na="null",
                                                   show_bbox=True)),
                "bbox": tuple(self.total_bounds())}

    def to_json(self, na: str = "null", show_bbox: bool = False,
                drop_id: bool = False, to_wgs84: bool = False,
                **kw) -> str:
        """GeoJSON FeatureCollection string (reference
        geodataframe.py:1206-1276). ``to_wgs84=True`` reprojects to
        EPSG:4326 first (RFC 7946 requires WGS84 coordinates). Driver-side
        materialization — for datasets beyond driver memory use
        to_geojson(path) (distributed GeoJSONSeq write) instead."""
        import json as _json
        src = self
        if to_wgs84:
            crs = self._crs.get(self._geometry)
            if crs and crs not in ("EPSG:4326", "OGC:CRS84"):
                src = self.to_crs("EPSG:4326")
        obj = {"type": "FeatureCollection",
               "features": list(src.iterfeatures(
                   na=na, show_bbox=show_bbox, drop_id=drop_id))}
        if show_bbox:
            obj["bbox"] = tuple(src.total_bounds())
        return _json.dumps(obj, **kw)

    def to_geo_dict(self, na: str = "null", show_bbox: bool = False,
                    drop_id: bool = False) -> dict:
        """FeatureCollection as a Python dict (reference
        geodataframe.py:1278-1343 to_geo_dict) — to_json without the
        serialization."""
        obj = {"type": "FeatureCollection",
               "features": list(self.iterfeatures(
                   na=na, show_bbox=show_bbox, drop_id=drop_id))}
        if show_bbox:
            obj["bbox"] = tuple(self.total_bounds())
        return obj

    def plot(self, *args, limit: int = 10000, **kw):
        """Matplotlib plot of (up to ``limit``) geometries (reference
        geopandas/plotting.py:488-1404). Requires matplotlib — not
        installed in every environment; the data path (bounded collect of
        GeoJSON coordinate arrays) works wherever it is."""
        try:
            import matplotlib.pyplot as plt  # noqa: F401
        except ImportError as e:
            raise ImportError(
                "GeoFrame.plot requires matplotlib (`pip install "
                "matplotlib`). For headless pipelines export instead: "
                "to_file(...), to_json(), or __geo_interface__.") from e
        import json as _json

        ax = kw.pop("ax", None) or plt.gca()
        rows = (self.df.select(st.as_geojson(self.geometry).alias("g"))
                .limit(limit).collect())
        for r in rows:
            if r["g"] is None:
                continue
            gj = _json.loads(r["g"])
            for t, cs in _geojson_paths(gj):
                xs = [c[0] for c in cs]
                ys = [c[1] for c in cs]
                if t == "point":
                    ax.plot(xs, ys, marker="o", linestyle="", **kw)
                else:
                    ax.plot(xs, ys, **kw)
        return ax

    def explore(self, *args, **kw):
        """Interactive folium map (reference geopandas/explore.py:34) —
        requires folium; not installed here."""
        raise ImportError(
            "GeoFrame.explore requires folium/branca (not installed). "
            "Use plot() with matplotlib, or export GeoJSON via to_json() "
            "and view it in any web map.")

    # -- I/O -----------------------------------------------------------------

    def to_parquet(self, path: str, **kw):
        from geopandas_spark.io import to_parquet as _tp
        kw.setdefault("crs", self.crs)
        return _tp(self.df, path, geom=self._geometry, **kw)

    def to_feather(self, path: str, **kw):
        from geopandas_spark.io import to_feather as _tf
        kw.setdefault("crs", self.crs)
        return _tf(self.df, path, geom=self._geometry, **kw)

    def to_geojson(self, path: str, **kw):
        from geopandas_spark.io import to_geojson as _tg
        return _tg(self.df, path, geom=self._geometry, **kw)

    def to_file(self, path: str, **kw):
        """Extension-dispatched write (reference GeoDataFrame.to_file,
        geopandas/io/file.py:614-795): .shp/.gpkg/.geojson/.parquet/
        .feather."""
        from geopandas_spark.io import to_file as _tf
        return _tf(self.df, path, geom=self._geometry, **kw)

    def sjoin_nearest(self, other: "GeoFrame | DataFrame",
                      **kw) -> "GeoFrame":
        """Method form of sjoin_nearest (reference GeoDataFrame
        .sjoin_nearest, geopandas/geodataframe.py:2641)."""
        from geopandas_spark.operators.sjoin import sjoin_nearest as _snj
        self._check_geographic_crs("sjoin_nearest")
        if isinstance(other, GeoFrame):
            other._check_geographic_crs("sjoin_nearest")
        odf = other.df if isinstance(other, GeoFrame) else other
        ogeom = (other.active_geometry_name
                 if isinstance(other, GeoFrame)
                 else kw.pop("geom_right", "geom"))
        out = _snj(self.df, odf, geom_left=self._geometry,
                   geom_right=ogeom, **kw)
        gname = (self._geometry if self._geometry in out.columns
                 else f"{self._geometry}_left")
        return GeoFrame(out, geometry=gname, crs=self._crs)

    def to_wkt(self, **kw) -> DataFrame:
        """All geometry columns → WKT strings (reference GeoDataFrame
        .to_wkt, geopandas/geodataframe.py:1299). Returns a plain
        DataFrame — geometry typing is gone by definition."""
        from geopandas_spark.functions import st as _st
        out = self.df
        for c in self._geom_columns():
            out = out.withColumn(c, _st.as_text(c))
        return out

    def to_wkb(self, hex: bool = False) -> DataFrame:
        """All geometry columns as WKB (hex-encoded on request; reference
        GeoDataFrame.to_wkb, geopandas/geodataframe.py:1277). The binary
        columns already ARE WKB, so this is a no-op projection unless
        hex=True."""
        from pyspark.sql import functions as F
        out = self.df
        if hex:
            for c in self._geom_columns():
                out = out.withColumn(c, F.lower(F.hex(c)))
        return out

    def _geom_columns(self):
        """Columns known to hold geometry: the active geometry plus any
        column tracked in the CRS map or carrying WKB geometry field
        metadata. NOT every BinaryType column — a plain binary attribute
        (bytea from read_postgis, an FGB BINARY property) must survive
        to_wkt/to_wkb untouched, matching the reference's geometry-dtype
        scoping (geopandas/geodataframe.py:1277-1323)."""
        from pyspark.sql.types import BinaryType
        cols = []
        for f in self.df.schema.fields:
            if not isinstance(f.dataType, BinaryType):
                continue
            if (f.name == self._geometry or f.name in self._crs
                    or (f.metadata or {}).get("encoding") == "WKB"):
                cols.append(f.name)
        return cols or [self._geometry]

    # -- plumbing ------------------------------------------------------------

    def __getattr__(self, item):
        # delegate everything else to the wrapped DataFrame (count, cache,
        # explain, columns, ...)
        return getattr(self.df, item)

    def __repr__(self):
        crs = self._crs.get(self._geometry)
        return (f"GeoFrame(geometry={self._geometry!r}, crs={crs!r}, "
                f"columns={self.df.columns})")


def read_parquet(spark, path, **kw) -> GeoFrame:
    """GeoParquet → GeoFrame with geometry + CRS restored from the spec
    ``geo`` footer metadata."""
    from geopandas_spark.io import read_parquet as _rp
    from geopandas_spark.io.geoparquet import read_geo_metadata
    df = _rp(spark, path, **kw)
    meta = read_geo_metadata(path) or {}
    gcol = kw.get("geom") or meta.get("primary_column", "geom")
    crs = {}
    for name, cm in meta.get("columns", {}).items():
        if cm.get("crs"):
            crs[name] = cm["crs"]
    return GeoFrame(df, geometry=gcol, crs=crs)


def read_file(spark, path, **kw) -> GeoFrame:
    """Extension-dispatched read (reference geopandas.read_file,
    geopandas/io/file.py:197-339) wrapped as a GeoFrame."""
    from geopandas_spark.io import read_file as _rf
    gcol = kw.get("geom", "geom")
    return GeoFrame(_rf(spark, path, **kw), geometry=gcol)


def from_features(spark, features, geometry: str = "geom",
                  crs=None) -> GeoFrame:
    """Build a GeoFrame from GeoJSON-like features — a FeatureCollection
    dict, a list of feature dicts, or objects exposing
    ``__geo_interface__`` (reference GeoDataFrame.from_features,
    geopandas/geodataframe.py:747). Driver-side by design (features are
    already in driver memory); large data belongs in read_file."""
    import json as _json

    import pyarrow as pa
    from pyspark.sql import functions as F

    from geopandas_spark.functions import st as _st
    if hasattr(features, "__geo_interface__"):
        features = features.__geo_interface__
    if isinstance(features, dict):
        features = features.get("features", [])
    props, gjs, keys = [], [], {}
    for f in features:
        if hasattr(f, "__geo_interface__"):
            f = f.__geo_interface__
        props.append(f.get("properties") or {})
        keys.update(dict.fromkeys(props[-1]))
        gjs.append(_json.dumps(f["geometry"])
                   if f.get("geometry") is not None else None)

    def column(k):
        # Arrow infers each property's type (ints with floats → double);
        # a property that is NULL everywhere is a string column, as in
        # read_geojson's JSON inference
        arr = pa.array([p.get(k) for p in props])
        return arr.cast(pa.string()) if pa.types.is_null(arr.type) else arr

    df = spark.createDataFrame(pa.table(
        {**{k: column(k) for k in keys},
         "__gj__": pa.array(gjs, pa.string())}))
    df = (df.withColumn(geometry, _st.geom_from_geojson(F.col("__gj__")))
            .drop("__gj__"))
    return GeoFrame(df, geometry=geometry,
                    crs={geometry: crs} if crs else None)


def concat(frames) -> GeoFrame:
    """Vertical concat with CRS consistency (reference _get_common_crs,
    geopandas/array.py:1935-1964): all frames must agree (None counts as
    'unset' and adopts the common CRS); mismatch raises."""
    frames = list(frames)
    if not frames:
        raise ValueError("concat of no frames")
    g = frames[0].active_geometry_name
    crss = {_norm(f.crs) for f in frames if f.crs is not None}
    if len(crss) > 1:
        raise ValueError(f"cannot concat frames with mixed CRS: {crss}")
    out = frames[0].df
    for f in frames[1:]:
        if f.active_geometry_name != g:
            f = f.rename_geometry(g)
        out = out.unionByName(f.df, allowMissingColumns=False)
    crs = ({g: frames[0].crs} if frames[0].crs
           else ({g: next(iter(crss))} if crss else {}))
    return GeoFrame(out, geometry=g, crs=crs)


def _geojson_paths(gj):
    """GeoJSON geometry dict → iterable of ("point"|"path", coord list)
    drawable segments (rings/lines flattened; collections recursed)."""
    t = gj.get("type")
    c = gj.get("coordinates")
    if t == "Point":
        yield "point", [c]
    elif t == "MultiPoint":
        yield "point", c
    elif t == "LineString":
        yield "path", c
    elif t == "MultiLineString":
        for line in c:
            yield "path", line
    elif t == "Polygon":
        for ring in c:
            yield "path", ring
    elif t == "MultiPolygon":
        for poly in c:
            for ring in poly:
                yield "path", ring
    elif t == "GeometryCollection":
        for g in gj.get("geometries", []):
            yield from _geojson_paths(g)
