"""GeoParquet source/sink (reference: geopandas/io/arrow.py).

Read path (reference :671-809): geometry arrives as WKB binary — Spark's
native parquet scan reads it with zero conversion; the spec ``geo``
key-value metadata is decoded driver-side from one footer. A ``bbox=``
filter becomes plain range predicates on the covering bbox struct
(reference builds the same pyarrow filter, :884-944) — Catalyst pushes
them to row-group min/max stats natively, so pruning is free and scales
to any number of files.

Write path (reference :385-448): fully distributed — each ``mapInArrow``
task streams its partition's Arrow batches into pyarrow parquet files,
rolling at a size threshold, and embeds the spec ``geo`` footer (with the
exact per-file bbox and geometry_types, which is what the spec scopes the
footer to) at file-write time. Tasks emit one tiny summary row per file;
the driver folds those into the dataset-level metadata dict that
``to_parquet`` returns. Nothing re-reads or rewrites data after the job:
the old driver-side per-file footer rewrite (a full extra read+write of
the dataset on one machine) is gone.
"""

from __future__ import annotations

import json
import math
import os
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from geopandas_spark.functions import st

GEO_VERSION = "1.1.0"
BBOX_COL = "bbox"


def _geo_metadata(geom: str, geometry_types: Sequence[str], bbox,
                  crs: Optional[str], covering: bool) -> dict:
    col = {
        "encoding": "WKB",
        "geometry_types": sorted(set(geometry_types)),
        "crs": crs,
    }
    if bbox is not None:
        col["bbox"] = [float(v) for v in bbox]
    if covering:
        col["covering"] = {"bbox": {
            "xmin": [BBOX_COL, "xmin"], "ymin": [BBOX_COL, "ymin"],
            "xmax": [BBOX_COL, "xmax"], "ymax": [BBOX_COL, "ymax"]}}
    return {"version": GEO_VERSION, "primary_column": geom,
            "columns": {geom: col}}


_GT_COL = "__gp_gtype__"
_SUMMARY_DDL = ("file string, n bigint, xmin double, ymin double, "
                "xmax double, ymax double, types array<string>")


def _resolve_fs(path: str):
    """(pyarrow FileSystem, fs-local path) for a URI or plain path."""
    from pyarrow import fs as pafs

    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _hive_value(v) -> str:
    """A partition value as Spark spells it, so Spark parses it back:
    NULL is the hive default partition and a non-finite double is
    NaN / Infinity / -Infinity (Python's nan / inf read back as text)."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, float) and not math.isfinite(v):
        return "NaN" if v != v else ("Infinity" if v > 0 else "-Infinity")
    return str(v)


def _hive_part_dir(cols, values) -> str:
    return "/".join(f"{c}={_hive_value(v)}" for c, v in zip(cols, values))


def _make_write_task(path: str, geom: str, crs: Optional[str],
                     covering: bool, partition_cols, drop_cols,
                     max_file_rows: int):
    """Build the mapInArrow task: stream batches → rolled parquet files
    with the exact per-file ``geo`` footer embedded at write time; yield
    one summary row per file (the driver folds these into dataset
    metadata). Runs entirely on executors; bounded memory (one rolled
    file's batches per open partition-value)."""

    def task(batches):
        import uuid

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        fs, root = _resolve_fs(path)
        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        token = uuid.uuid4().hex[:12]
        bufs = {}     # dirkey -> list[RecordBatch] of the current file
        rows = {}     # dirkey -> buffered row count
        seqs = {}     # dirkey -> files written so far
        summaries = []

        def flush(dirkey):
            batch_list = bufs.pop(dirkey, None)
            n = rows.pop(dirkey, 0)
            if not batch_list or n == 0:
                return
            tbl = pa.Table.from_batches(batch_list)
            # per-file stats from the in-plan bbox/type columns
            xmin = ymin = xmax = ymax = None
            bb = tbl.column(BBOX_COL) if BBOX_COL in tbl.column_names else None
            if bb is not None:
                flat = pa.Table.from_arrays(
                    bb.combine_chunks().flatten(),
                    names=["xmin", "ymin", "xmax", "ymax"])
                xmin = pc.min(flat.column("xmin")).as_py()
                ymin = pc.min(flat.column("ymin")).as_py()
                xmax = pc.max(flat.column("xmax")).as_py()
                ymax = pc.max(flat.column("ymax")).as_py()
            types = sorted(t for t in
                           pc.unique(tbl.column(_GT_COL)).to_pylist()
                           if t is not None)
            bbox = (None if xmin is None else (xmin, ymin, xmax, ymax))
            meta = _geo_metadata(geom, types, bbox, crs, covering)
            out = tbl.drop_columns(list(drop_cols))
            out = out.replace_schema_metadata(
                {**(out.schema.metadata or {}),
                 b"geo": json.dumps(meta).encode()})
            seq = seqs.get(dirkey, 0)
            seqs[dirkey] = seq + 1
            fn = f"part-{pid:05d}-{token}-{seq:03d}.snappy.parquet"
            d = root if not dirkey else f"{root}/{dirkey}"
            fs.create_dir(d, recursive=True)
            pq.write_table(out, fs.open_output_stream(f"{d}/{fn}"),
                           compression="snappy")
            summaries.append((f"{dirkey}/{fn}" if dirkey else fn, n,
                              xmin, ymin, xmax, ymax, types))

        def add(dirkey, batch):
            bufs.setdefault(dirkey, []).append(batch)
            rows[dirkey] = rows.get(dirkey, 0) + batch.num_rows
            if rows[dirkey] >= max_file_rows:
                flush(dirkey)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            if not partition_cols:
                add("", batch)
                continue
            # hive-style split: group the batch's rows by their partition
            # directory, read from the Arrow values (exact ints, NULL apart
            # from NaN), in order of first appearance
            groups = {}
            for i, kv in enumerate(zip(*(batch.column(c).to_pylist()
                                         for c in partition_cols))):
                groups.setdefault(_hive_part_dir(partition_cols, kv),
                                  []).append(i)
            for dirkey, idx in groups.items():
                add(dirkey, batch.take(pa.array(idx)))

        for dk in list(bufs):
            flush(dk)
        if summaries:
            yield pa.record_batch(
                [pa.array([s[i] for s in summaries], type=t)
                 for i, t in enumerate([pa.string(), pa.int64(),
                                        pa.float64(), pa.float64(),
                                        pa.float64(), pa.float64(),
                                        pa.list_(pa.string())])],
                names=["file", "n", "xmin", "ymin", "xmax", "ymax",
                       "types"])

    return task


def to_parquet(df: DataFrame, path: str, *, geom: str = "geom",
               crs: Optional[str] = None, write_covering_bbox: bool = True,
               mode: str = "overwrite", partition_by=None,
               hilbert_partitions: Optional[int] = None,
               max_file_rows: int = 4_000_000) -> dict:
    """Write a GeoParquet dataset; returns the dataset-level ``geo``
    metadata dict (the per-file footers carry each file's own exact bbox
    and geometry_types, per spec scope).

    Distributed end to end: executors write rolled parquet files via
    pyarrow with the footer embedded at write time and report per-file
    summary rows; the only driver work is folding those summaries (and
    mode handling). ``max_file_rows`` bounds both file size and the
    per-task buffer. The covering bbox column makes subsequent
    ``read_parquet(bbox=...)`` scans prunable at the row-group level
    (reference arrow.py:182-190).

    ``hilbert_partitions=N`` range-shuffles rows into N spatially
    clustered partitions (Hilbert key of the bbox midpoint) before
    writing. Spatially clustered files have *tight, near-disjoint* bbox
    column stats, so a later ``read_parquet(bbox=...)`` prunes whole
    files/row groups instead of matching every file — at 100 TB this is
    the difference between scanning the dataset and scanning the query
    window. Costs one extra shuffle at write time.
    """
    if hilbert_partitions:
        from geopandas_spark.operators.partitioning import (
            hilbert_repartition,
        )
        df = hilbert_repartition(df, int(hilbert_partitions), geom=geom)
    spark = df.sparkSession
    fs, root = _resolve_fs(path)
    from pyarrow import fs as pafs

    info = fs.get_file_info(root)
    exists = info.type != pafs.FileType.NotFound
    if exists:
        if mode == "overwrite":
            fs.delete_dir(root)
        elif mode in ("error", "errorifexists"):
            raise FileExistsError(f"path exists: {path} (mode={mode})")
        elif mode == "ignore":
            return {}
    fs.create_dir(root, recursive=True)

    partition_cols = list(partition_by) if partition_by else []
    out = df.withColumn(_GT_COL, st.geometry_type(geom))
    drop_cols = [_GT_COL] + partition_cols
    out = out.withColumn(BBOX_COL, st.bounds(geom))
    if not write_covering_bbox:
        drop_cols.append(BBOX_COL)

    task = _make_write_task(path, geom, crs, write_covering_bbox,
                            partition_cols, drop_cols, max_file_rows)
    summaries = out.mapInArrow(task, _SUMMARY_DDL).collect()

    if not summaries:
        # empty dataset: one schema-only file so the dir stays readable
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        keep = [f for f in out.schema.fields if f.name not in drop_cols]
        sch = to_arrow_schema(type(out.schema)(keep)).with_metadata(
            {b"geo": json.dumps(
                _geo_metadata(geom, [], None, crs,
                              write_covering_bbox)).encode()})
        pq.write_table(sch.empty_table(),
                       fs.open_output_stream(
                           f"{root}/part-00000-empty.snappy.parquet"),
                       compression="snappy")

    types = sorted({t for s in summaries for t in s["types"]})
    xs = [s["xmin"] for s in summaries if s["xmin"] is not None]
    bbox = None
    if xs:
        bbox = (min(xs),
                min(s["ymin"] for s in summaries if s["ymin"] is not None),
                max(s["xmax"] for s in summaries if s["xmax"] is not None),
                max(s["ymax"] for s in summaries if s["ymax"] is not None))
    meta = _geo_metadata(geom, types, bbox, crs, write_covering_bbox)
    with fs.open_output_stream(f"{root}/_SUCCESS") as f:
        f.write(b"")
    return meta


def read_geo_metadata(spark_or_path, path: Optional[str] = None) -> Optional[dict]:
    """Decode the ``geo`` footer metadata from the first parquet part file
    (reference arrow.py:625-639)."""
    p = path if path is not None else spark_or_path
    import pyarrow.parquet as pq

    for root, _dirs, files in os.walk(p):
        for fn in sorted(files):
            if fn.endswith(".parquet"):
                md = pq.read_schema(os.path.join(root, fn)).metadata or {}
                if b"geo" in md:
                    return json.loads(md[b"geo"])
                return None
    return None


def read_parquet(spark: SparkSession, path: str, *, bbox=None,
                 columns=None, geom: Optional[str] = None) -> DataFrame:
    """Read a GeoParquet dataset (reference arrow.py:671-809).

    ``bbox=(xmin, ymin, xmax, ymax)`` applies an intersects prefilter:
    native range predicates on the covering bbox struct when present
    (row-group pruning via parquet stats — check ``PushedFilters`` in
    ``.explain``), falling back to an exact ``st_intersects`` refine when
    not. ``columns`` prunes the scan (``ReadSchema``).
    """
    meta = read_geo_metadata(path)
    df = spark.read.parquet(path)
    gcol = geom or (meta or {}).get("primary_column", "geom")
    if bbox is not None:
        xmin, ymin, xmax, ymax = (float(v) for v in bbox)
        covering = ((meta or {}).get("columns", {})
                    .get(gcol, {}).get("covering"))
        if covering or BBOX_COL in df.columns:
            df = df.filter(
                (F.col(f"{BBOX_COL}.xmin") <= xmax) &
                (F.col(f"{BBOX_COL}.xmax") >= xmin) &
                (F.col(f"{BBOX_COL}.ymin") <= ymax) &
                (F.col(f"{BBOX_COL}.ymax") >= ymin))
        else:
            df = df.filter(st.intersects(
                F.col(gcol),
                st.makebox(F.lit(xmin), F.lit(ymin), F.lit(xmax),
                           F.lit(ymax))))
    if columns is not None:
        keep = list(columns)
        if gcol not in keep:
            keep.append(gcol)
        df = df.select(*[c for c in keep if c in df.columns])
    return df
