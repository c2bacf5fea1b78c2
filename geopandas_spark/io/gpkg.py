"""GeoPackage source/sink — stdlib ``sqlite3``, no OGR.

Implements the public OGC GeoPackage 1.3 encoding directly (reference
reads GPKG through pyogrio — geopandas/io/file.py:197-339). A GeoPackage
is a SQLite database with three registry tables (``gpkg_spatial_ref_sys``,
``gpkg_contents``, ``gpkg_geometry_columns``) and feature tables whose
geometry BLOBs are a small GP header + standard WKB.

Scale shape: read is DISTRIBUTED over rowid ranges — the driver runs two
tiny registry queries plus min/max(rowid); each task opens the SQLite file
(shared filesystem) read-only and scans only its range, so the fan-out is
bounded by I/O not by the driver. Write streams through the driver
(SQLite is inherently single-writer).
"""

from __future__ import annotations

import sqlite3
import struct
from typing import Optional

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               FloatType, IntegerType, LongType, ShortType,
                               StringType, StructField, StructType)

from geopandas_spark.io._arrow import local_chunks, ranges, scan

_GP_MAGIC = b"GP"


def _gpkg_blob_to_wkb(blob: Optional[bytes]) -> Optional[bytes]:
    if blob is None:
        return None
    if blob[:2] != _GP_MAGIC:
        raise ValueError("not a GeoPackage geometry blob")
    flags = blob[3]
    if flags & 0b00100000:          # empty-geometry flag
        return None
    env = (flags >> 1) & 0b111
    env_size = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env]
    return blob[8 + env_size:]


def _wkb_to_gpkg_blob(wkb: Optional[bytes], srs_id: int) -> Optional[bytes]:
    if wkb is None:
        return None
    # version 0, flags: little-endian header, no envelope
    return _GP_MAGIC + b"\x00\x01" + struct.pack("<i", srs_id) + wkb


def read_gpkg(spark: SparkSession, path: str, *, table: Optional[str] = None,
              geom: str = "geom",
              num_partitions: Optional[int] = None) -> DataFrame:
    """Read a GeoPackage feature table, distributed over rowid ranges."""
    con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
    try:
        if table is None:
            row = con.execute(
                "SELECT table_name FROM gpkg_geometry_columns LIMIT 1"
            ).fetchone()
            if row is None:
                raise ValueError("no feature tables in GeoPackage")
            table = row[0]
        gcol_row = con.execute(
            "SELECT column_name FROM gpkg_geometry_columns "
            "WHERE table_name = ?", (table,)).fetchone()
        gcol = gcol_row[0] if gcol_row else geom
        cols = [(r[1], r[2])
                for r in con.execute(f'PRAGMA table_info("{table}")')]
        lo_hi = con.execute(
            f'SELECT MIN(rowid), MAX(rowid), COUNT(*) FROM "{table}"'
        ).fetchone()
    finally:
        con.close()
    lo, hi, n = (lo_hi[0] or 0), (lo_hi[1] or 0), lo_hi[2]

    attrs = [c for c, _ in cols if c != gcol]
    out_schema = StructType(
        [StructField(c, _spark_type(t), True) for c, t in cols if c != gcol]
        + [StructField(geom, BinaryType(), True)])

    if num_partitions is None:
        num_partitions = max(1, min(32, n // 8192 or 1))
    sel = ", ".join(f'"{c}"' for c in attrs + [gcol])

    def read_range(part):
        c = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        rows = c.execute(f'SELECT {sel} FROM "{table}" '
                         "WHERE rowid >= ? AND rowid < ?", part).fetchall()
        c.close()
        data = {col: [r[i] for r in rows] for i, col in enumerate(attrs)}
        data[geom] = [_gpkg_blob_to_wkb(r[len(attrs)]) for r in rows]
        return data

    return scan(spark, ranges(lo, hi + 1, num_partitions), read_range,
                out_schema)


def _spark_type(declared: str):
    """The Spark type of a column from its declared SQLite type, by
    SQLite's affinity rules: BOOLEAN reads as an integer (0/1, as a
    boolean column written by ``to_gpkg`` does) and the rest of NUMERIC
    affinity (DATE, DATETIME, ...) as text. A value the type cannot hold
    (a REAL in an INTEGER column) fails the read instead of being
    truncated."""
    t = declared.upper()
    if "INT" in t or t == "BOOLEAN":
        return LongType()
    if any(s in t for s in ("CHAR", "CLOB", "TEXT")):
        return StringType()
    if "BLOB" in t:
        return BinaryType()
    if any(s in t for s in ("REAL", "FLOA", "DOUB")):
        return DoubleType()
    return StringType()


def _sqlite_type(field: StructField) -> str:
    t = field.dataType
    if isinstance(t, (LongType, IntegerType, ShortType, BooleanType)):
        return "INTEGER"
    if isinstance(t, (DoubleType, FloatType)):
        return "REAL"
    if isinstance(t, BinaryType):
        return "BLOB"
    return "TEXT"


def to_gpkg(df: DataFrame, path: str, *, table: str = "layer",
            geom: str = "geom", srs_id: int = 0,
            mode: str = "overwrite") -> int:
    """Write a spec-compliant GeoPackage (registry tables + feature table).

    Streams through the driver with ``toLocalIterator`` (bounded memory);
    returns the row count. ``mode="overwrite"`` replaces only the target
    TABLE (GeoPackages are multi-layer — reference to_file(layer=...)
    appends layers to an existing file); other layers are preserved.

    Throughput ceiling: SQLite is single-writer — driver-paced, practical
    up to ~10M rows. At scale write GeoParquet/GeoJSONSeq (distributed
    sinks) and produce a GeoPackage extract at the edge."""
    attrs = [f for f in df.schema.fields if f.name != geom]
    con = sqlite3.connect(path)
    try:
        if mode == "overwrite":
            con.execute(f'DROP TABLE IF EXISTS "{table}"')
            for reg in ("gpkg_contents", "gpkg_geometry_columns"):
                try:
                    con.execute(f"DELETE FROM {reg} WHERE table_name = ?",
                                (table,))
                except sqlite3.OperationalError:
                    pass    # registry not created yet (fresh file)
        con.execute("PRAGMA application_id = 0x47504B47")
        con.execute("PRAGMA user_version = 10300")
        con.execute("""CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
            srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
            organization TEXT NOT NULL, organization_coordsys_id INTEGER,
            definition TEXT NOT NULL, description TEXT)""")
        con.executemany(
            "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            [("Undefined Cartesian", -1, "NONE", -1, "undefined", None),
             ("Undefined Geographic", 0, "NONE", 0, "undefined", None),
             ("WGS 84", 4326, "EPSG", 4326,
              'GEOGCS["WGS 84",DATUM["WGS_1984",'
              'SPHEROID["WGS 84",6378137,298.257223563]]]', None)])
        con.execute("""CREATE TABLE IF NOT EXISTS gpkg_contents (
            table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
            identifier TEXT UNIQUE, description TEXT DEFAULT '',
            last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ',
            'now')), min_x DOUBLE, min_y DOUBLE, max_x DOUBLE,
            max_y DOUBLE, srs_id INTEGER)""")
        con.execute("""CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
            table_name TEXT NOT NULL, column_name TEXT NOT NULL,
            geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
            z TINYINT NOT NULL, m TINYINT NOT NULL,
            PRIMARY KEY (table_name, column_name))""")
        cols_sql = ", ".join(f'"{f.name}" {_sqlite_type(f)}' for f in attrs)
        con.execute(f'DROP TABLE IF EXISTS "{table}"')
        con.execute(
            f'CREATE TABLE "{table}" (fid INTEGER PRIMARY KEY AUTOINCREMENT'
            + (", " + cols_sql if cols_sql else "")
            + f', "{geom}" BLOB)')

        names = [f.name for f in attrs]
        ph = ", ".join("?" * (len(names) + 1))
        ins = (f'INSERT INTO "{table}" '
               f'({", ".join(chr(34) + c + chr(34) for c in names)}'
               f'{", " if names else ""}"{geom}") VALUES ({ph})')
        n = 0
        minx = miny = float("inf")
        maxx = maxy = float("-inf")
        for chunk, ga in local_chunks(df, geom):
            if ga.n_coords:
                c = ga.coords
                minx = min(minx, float(c[:, 0].min()))
                miny = min(miny, float(c[:, 1].min()))
                maxx = max(maxx, float(c[:, 0].max()))
                maxy = max(maxy, float(c[:, 1].max()))
            con.executemany(ins, [
                tuple(row[c] for c in names)
                + (_wkb_to_gpkg_blob(row[geom], srs_id),) for row in chunk])
            n += len(chunk)
        if not np.isfinite(minx):
            minx = miny = maxx = maxy = None
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents (table_name, data_type, "
            "identifier, min_x, min_y, max_x, max_y, srs_id) "
            "VALUES (?, 'features', ?, ?, ?, ?, ?, ?)",
            (table, table, minx, miny, maxx, maxy, srs_id))
        con.execute(
            "INSERT OR REPLACE INTO gpkg_geometry_columns "
            "VALUES (?, ?, 'GEOMETRY', ?, 0, 0)", (table, geom, srs_id))
        con.commit()
    finally:
        con.close()
    return n
