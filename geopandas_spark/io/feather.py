"""Feather (Arrow IPC) source/sink + GeoArrow interchange (SURVEY.md §2.1).

Reference: geopandas/io/arrow.py:812-882 (read_feather/to_feather carry the
same ``geo`` key-value metadata as GeoParquet over Arrow IPC files), and
geopandas/io/_geoarrow.py:83-199 (Arrow interchange with the
``geoarrow.wkb`` extension encoding).

Spark has no built-in feather source, so both directions run distributed
through ``mapInArrow``:

- write: each input partition streams its Arrow batches into its own
  ``part-NNNNN.feather`` file (IPC file format, zstd-compressible), with
  the ``geo`` metadata embedded in every file's schema — workers never
  collect to the driver.
- read: one task per file (``spark.range`` + ``mapInArrow``, the range
  scan the shapefile/GeoPackage/FlatGeobuf readers share), each
  IPC-streaming its file's batches straight back out. Column
  pruning happens inside the reader (feather supports per-column reads).

At 100 TB this is the same shape as any file-list-driven source: parallelism
= number of files; no driver bottleneck beyond listing.
"""

from __future__ import annotations

import json
import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from geopandas_spark.io._arrow import scan
from geopandas_spark.io.geoparquet import _geo_metadata
from geopandas_spark.functions import st

GEO_KEY = b"geo"


def _dataset_geo_meta(df: DataFrame, geom: str, crs) -> dict:
    stats = df.select(st.geometry_type(geom).alias("t"),
                      st.bounds(geom).alias("b")).agg(
        F.collect_set("t").alias("types"),
        F.min("b.xmin").alias("xmin"), F.min("b.ymin").alias("ymin"),
        F.max("b.xmax").alias("xmax"), F.max("b.ymax").alias("ymax"),
    ).collect()[0]
    bbox = None
    if stats["xmin"] is not None:
        bbox = (stats["xmin"], stats["ymin"], stats["xmax"], stats["ymax"])
    return _geo_metadata(geom, [t for t in stats["types"] if t], bbox, crs,
                         covering=False)


def to_feather(df: DataFrame, path: str, *, geom: str = "geom",
               crs: Optional[str] = None,
               compression: str = "zstd") -> dict:
    """Write a directory of feather part files with ``geo`` schema
    metadata; returns the metadata dict."""
    meta = _dataset_geo_meta(df, geom, crs)
    payload = json.dumps(meta)
    os.makedirs(path, exist_ok=True)

    def write_parts(batches):
        import pyarrow as pa
        import pyarrow.feather as feather
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        collected = list(batches)
        if collected:
            table = pa.Table.from_batches(collected)
            table = table.replace_schema_metadata(
                {**(table.schema.metadata or {}), GEO_KEY: payload.encode()})
            feather.write_feather(
                table, os.path.join(path, f"part-{pid:05d}.feather"),
                compression=compression)
            yield pa.RecordBatch.from_pydict(
                {"part": [pid], "rows": [table.num_rows]})

    stats_schema = "part long, rows long"
    df.mapInArrow(write_parts, schema=stats_schema).collect()
    return meta


def _feather_files(path: str):
    out = []
    for root, _dirs, files in os.walk(path):
        for fn in sorted(files):
            if fn.endswith(".feather"):
                out.append(os.path.join(root, fn))
    return sorted(out)


def read_geo_metadata_feather(path: str) -> Optional[dict]:
    import pyarrow.ipc as ipc

    files = _feather_files(path)
    if not files:
        return None
    with open(files[0], "rb") as f:
        md = ipc.open_file(f).schema.metadata or {}
    if GEO_KEY in md:
        return json.loads(md[GEO_KEY])
    return None


def read_feather(spark: SparkSession, path: str, *,
                 columns=None) -> DataFrame:
    """Read a feather dataset written by :func:`to_feather` (or any
    directory of IPC files sharing one schema)."""
    import pyarrow.ipc as ipc
    from pyspark.sql.pandas.types import from_arrow_schema

    files = _feather_files(path)
    if not files:
        raise FileNotFoundError(f"no .feather files under {path}")
    with open(files[0], "rb") as f:
        arrow_schema = ipc.open_file(f).schema
    if columns is not None:
        keep = [n for n in arrow_schema.names if n in set(columns)]
        import pyarrow as pa
        arrow_schema = pa.schema(
            [arrow_schema.field(n) for n in keep],
            metadata=arrow_schema.metadata)
    else:
        keep = None
    spark_schema = from_arrow_schema(arrow_schema)

    def read_part(fp):
        import pyarrow.feather as feather

        return feather.read_table(fp, columns=keep)

    return scan(spark, files, read_part, spark_schema)


# ---------------------------------------------------------------------------
# GeoArrow interchange (reference io/_geoarrow.py:83-199 — WKB encoding)
# ---------------------------------------------------------------------------

_GA_NATIVE_NAMES = {1: "geoarrow.point", 2: "geoarrow.linestring",
                    3: "geoarrow.polygon", 4: "geoarrow.multipoint",
                    5: "geoarrow.multilinestring", 6: "geoarrow.multipolygon"}


def _native_geoarrow_array(blobs):
    """WKB column → (pyarrow nested array, geoarrow extension name) using
    the GeoArrow interleaved-coordinate encoding (reference
    geopandas/io/_geoarrow.py:264-408 native encodings): point =
    fixed_size_list<double,2>, each further level adds a list."""
    import pyarrow as pa
    from geopandas_spark.geom import wkb as _wkb

    ga = _wkb.decode(blobs)
    fams = {int(t) for t in ga.types if t != 0}
    # promote single types to their multi within one family
    promote = len(fams) > 1
    fam_of = {1: 1, 4: 1, 2: 2, 5: 2, 3: 3, 6: 3}
    if len({fam_of.get(t) for t in fams}) > 1:
        raise ValueError(
            "mixed geometry families cannot use a native geoarrow "
            "encoding — use geometry_encoding='WKB' (the reference "
            "raises likewise, io/_geoarrow.py)")
    target = max(fams) if fams else 1
    if promote:
        target = {1: 4, 2: 5, 3: 6}.get(target, target)

    rows = []
    for i in range(len(ga)):
        t = int(ga.types[i])
        if t == 0:
            rows.append(None)
            continue
        parts = ga.geom_slices(i)
        if target == 1:
            rows.append(list(parts[0][0][0]) if parts else None)
        elif target == 2:
            rows.append([list(p) for p in parts[0][0]] if parts else [])
        elif target == 3:
            rows.append([[list(c) for c in r] for r in parts[0]]
                        if parts else [])
        elif target == 4:
            rows.append([list(p[0][0]) for p in parts])
        elif target == 5:
            rows.append([[list(c) for c in p[0]] for p in parts])
        else:
            rows.append([[[list(c) for c in r] for r in p] for p in parts])

    coord = pa.list_(pa.float64(), 2)
    depth = {1: 0, 2: 1, 3: 2, 4: 1, 5: 2, 6: 3}[target]
    typ = coord
    for _ in range(depth):
        typ = pa.list_(typ)
    return pa.array(rows, type=typ), _GA_NATIVE_NAMES[target]


def to_arrow(df: DataFrame, *, geom: str = "geom", crs=None,
             geometry_encoding: str = "WKB"):
    """Driver-side interchange: collect to a pyarrow Table whose geometry
    field carries GeoArrow extension metadata — consumable by anything
    speaking the GeoArrow PyCapsule protocol (reference
    GeoDataFrame.to_arrow). ``geometry_encoding``: "WKB" (default) keeps
    the bytes; "geoarrow" re-encodes into the native interleaved nested
    layout (geoarrow.point/linestring/... per the uniform geometry type).
    For big data use to_parquet/to_feather instead; this materializes on
    the driver by design."""
    import pyarrow as pa

    table = pa.Table.from_batches(df._collect_as_arrow())
    idx = table.schema.get_field_index(geom)
    ext_meta = {"crs": crs} if crs else {}
    if geometry_encoding.lower() in ("geoarrow", "native"):
        arr, ext_name = _native_geoarrow_array(
            table.column(idx).to_pylist())
        fld = pa.field(geom, arr.type, nullable=True, metadata={
            b"ARROW:extension:name": ext_name.encode(),
            b"ARROW:extension:metadata": json.dumps(ext_meta).encode()})
        return table.set_column(idx, fld, arr)
    fld = table.schema.field(idx)
    fld = fld.with_metadata({
        b"ARROW:extension:name": b"geoarrow.wkb",
        b"ARROW:extension:metadata": json.dumps(ext_meta).encode()})
    return table.cast(table.schema.set(idx, fld))


def _native_geoarrow_to_wkb(arr, ext_name: str):
    """GeoArrow native nested array → list of WKB bytes."""
    from geopandas_spark.geom import wkb as _wkb
    from geopandas_spark.geom.array import GeometryBuilder
    import numpy as np

    t = {"geoarrow.point": 1, "geoarrow.linestring": 2,
         "geoarrow.polygon": 3, "geoarrow.multipoint": 4,
         "geoarrow.multilinestring": 5, "geoarrow.multipolygon": 6}[ext_name]
    b = GeometryBuilder()
    for row in arr.to_pylist():
        if row is None:
            b.append_null()
            continue
        if t == 1:
            b.append_point(row[0], row[1])
        elif t == 2:
            b.append(2, [[np.asarray(row, float)]])
        elif t == 3:
            b.append(3, [[np.asarray(r, float) for r in row]])
        elif t == 4:
            b.append(4, [[np.asarray([p], float)] for p in row])
        elif t == 5:
            b.append(5, [[np.asarray(p, float)] for p in row])
        else:
            b.append(6, [[np.asarray(r, float) for r in p] for p in row])
    return _wkb.encode(b.finish())


def from_arrow(spark: SparkSession, table) -> DataFrame:
    """Driver-side interchange: a pyarrow Table (or any object exporting
    the Arrow PyCapsule stream protocol) → DataFrame. ``geoarrow.wkb``
    columns arrive as plain WKB binary; native ``geoarrow.point`` /
    ``linestring`` / ``polygon`` / ``multi*`` nested encodings are
    re-encoded to WKB (reference GeoDataFrame.from_arrow,
    geodataframe.py:917, io/_geoarrow.py:264-408)."""
    import pyarrow as pa

    if not isinstance(table, pa.Table):
        table = pa.table(table)
    # native nested encodings → WKB columns
    for idx in range(table.num_columns):
        fld = table.schema.field(idx)
        md = fld.metadata or {}
        name = md.get(b"ARROW:extension:name", b"").decode()
        if name.startswith("geoarrow.") and name != "geoarrow.wkb":
            blobs = _native_geoarrow_to_wkb(
                table.column(idx).combine_chunks(), name)
            keep = {k: v for k, v in md.items()
                    if not k.startswith(b"ARROW:extension")}
            table = table.set_column(
                idx, pa.field(fld.name, pa.binary(), metadata=keep or None),
                pa.array(blobs, pa.binary()))
    # strip extension metadata so Spark sees plain binary, and widen the
    # types Spark takes no Arrow column of (unsigned ints, float16, date64)
    # to the bigint / double / date they have through Python values
    fields = []
    for fld in table.schema:
        md = fld.metadata or {}
        if md.get(b"ARROW:extension:name", b"").startswith(b"geoarrow"):
            fld = fld.with_metadata(
                {k: v for k, v in md.items()
                 if not k.startswith(b"ARROW:extension")})
        if pa.types.is_unsigned_integer(fld.type):
            fld = fld.with_type(pa.int64())
        elif pa.types.is_float16(fld.type):
            fld = fld.with_type(pa.float64())
        elif pa.types.is_date64(fld.type):
            fld = fld.with_type(pa.date32())
        fields.append(fld)
    table = table.cast(pa.schema(fields, metadata=table.schema.metadata))
    return spark.createDataFrame(table)
