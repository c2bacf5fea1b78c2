"""PostGIS source/sink over JDBC (SURVEY.md §2.1).

Reference: read_postgis (geopandas/io/sql.py:126-211) reads a SQL query
whose geometry column arrives as WKB (or hex-encoded WKB) and decodes it;
to_postgis (:343-462) writes EWKB (WKB + embedded SRID).

Spark mapping: ``spark.read.jdbc`` is the distributed scan (partition by a
numeric column for parallel reads); the geometry column lands as
BinaryType (PostGIS `bytea`) or a hex StringType depending on the query —
``decode_geom`` normalizes either into the engine's WKB convention (the
EWKB SRID header is accepted and dropped by the codec; CRS goes to column
metadata / the GeoFrame wrapper). Writes go through ``encode_ewkb`` so
PostGIS sees the SRID inline, then ``df.write.jdbc``.

No database exists in the test environment, so the JDBC calls themselves
are exercised only by their unit-testable halves (hex/EWKB codecs); the
JDBC plumbing is standard Spark.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType

from geopandas_spark.functions.st import _udf
from geopandas_spark.geom import wkb


def decode_geom(df: DataFrame, geom: str = "geom") -> DataFrame:
    """Normalize a JDBC-read geometry column to plain WKB binary: hex
    strings are unhexed; EWKB SRID headers pass through (the codec strips
    them on decode)."""
    field = dict(zip(df.schema.names, df.schema.fields))[geom]
    if field.dataType.simpleString() == "string":
        df = df.withColumn(geom, F.unhex(F.col(geom)))
    return df


def read_postgis(spark: SparkSession, url: str, query: str, *,
                 geom: str = "geom", partition_column: Optional[str] = None,
                 num_partitions: int = 8, lower_bound=None, upper_bound=None,
                 properties: Optional[dict] = None) -> DataFrame:
    """Distributed JDBC read of a PostGIS query/table; pass
    ``partition_column`` (+bounds) to fan the scan across tasks
    (reference geopandas/io/sql.py:126-211 reads single-connection)."""
    reader = spark.read.format("jdbc").option("url", url)
    if partition_column is not None:
        # Spark's JDBC source rejects partitionColumn together with the
        # `query` option — partitioned scans need `dbtable`; wrap a full
        # SELECT as a derived table
        src = query.strip().rstrip(";")
        if " " in src:
            src = f"({src}) AS gps_sub"   # no leading underscore: Derby
            # (and other engines) reject identifiers starting with '_'
        reader = (reader.option("dbtable", src)
                  .option("partitionColumn", partition_column)
                  .option("numPartitions", num_partitions)
                  .option("lowerBound", lower_bound)
                  .option("upperBound", upper_bound))
    else:
        reader = reader.option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return decode_geom(reader.load(), geom)


@_udf(None, BinaryType(), "g", "l")
def _to_ewkb_udf(ga, srid):
    return wkb.encode_ewkb(ga, int(srid))


def to_ewkb(col, srid: int):
    """Column expression: WKB → EWKB with embedded SRID."""
    c = F.col(col) if isinstance(col, str) else col
    return _to_ewkb_udf(c, F.lit(int(srid)))


def to_postgis(df: DataFrame, url: str, table: str, *, geom: str = "geom",
               srid: int = 4326, mode: str = "append",
               properties: Optional[dict] = None) -> None:
    """Write a frame to PostGIS: geometry re-encoded as EWKB (SRID
    embedded, reference sql.py:343-462), then a plain distributed JDBC
    write. Create the geometry column as `geometry` type in the target
    schema; PostGIS casts bytea EWKB on insert."""
    out = df.withColumn(geom, to_ewkb(geom, srid))
    writer = out.write.format("jdbc").option("url", url) \
        .option("dbtable", table).mode(mode)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
