"""GeoJSON source/sink (reference: geopandas/io/file.py read/to_file with
GeoJSON driver; geopandas/geodataframe.py:984-1276 to_json/from_features).

Two framings:

- **GeoJSONSeq / newline-delimited** (the scale path): one Feature per
  line. Read distributes natively over line splits (``spark.read.text``);
  parse is ``from_json`` (native) for the frame + one vectorized UDF for
  the geometry object. Write is the exact inverse — native ``to_json``
  over a struct column. Arbitrarily large datasets stream through.
- **FeatureCollection** (single JSON document): inherently one object —
  read/written driver-side for small files only (practical ceiling
  ~1M features / driver heap), mirroring the reference's single-machine
  behavior. Anything bigger belongs in GeoJSONSeq, the distributed
  framing above.
"""

from __future__ import annotations

import json

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from geopandas_spark.functions import st
from geopandas_spark.io import _arrow


def read_geojson(spark: SparkSession, path: str, *,
                 geom: str = "geom",
                 expand_properties: bool = True,
                 max_collection_bytes: int = _arrow.MAX_DOCUMENT_BYTES
                 ) -> DataFrame:
    """Read GeoJSONSeq (one Feature per line) or a FeatureCollection file
    into a DataFrame with property columns + a WKB geometry column.

    ``expand_properties`` infers the property schema from a bounded sample
    of features (schemas are unioned over the sample, so properties absent
    from the first feature still get columns; features beyond the sample
    carrying *novel* properties lose them — documented limit) and expands
    it into top-level columns via native ``from_json`` — the reference's
    read_file returns one column per property
    (geopandas/io/file.py:197-339). Set False to keep the raw
    ``properties`` JSON string column."""
    first = spark.read.text(path).limit(1).collect()
    head = first[0][0].lstrip() if first else ""
    if head.startswith("{") and '"FeatureCollection"' in head:
        # single-document collection: driver-side parse (small files only
        # — a FeatureCollection is one JSON object, so the parse cannot
        # distribute; guard before pulling it onto the driver)
        nbytes = _arrow.input_bytes(spark, path)
        if nbytes > max_collection_bytes:
            raise ValueError(
                f"FeatureCollection input is {nbytes >> 20} MiB, above the "
                f"{max_collection_bytes >> 20} MiB driver-read ceiling. "
                "Convert to newline-delimited GeoJSON (GeoJSONSeq, one "
                "Feature per line) which reads distributed — e.g. "
                "`jq -c '.features[]' in.geojson > out.geojsonl` — or "
                "raise max_collection_bytes= explicitly.")
        sc_files = spark.sparkContext.wholeTextFiles(path).values().collect()
        feats = []
        for doc in sc_files:
            feats.extend(json.loads(doc).get("features", []))
        raw = spark.createDataFrame(pa.table({
            "properties": pa.array([json.dumps(f.get("properties", {}))
                                    for f in feats], pa.string()),
            "__geojson__": pa.array([json.dumps(f.get("geometry"))
                                     for f in feats], pa.string())}))
    else:
        lines = spark.read.text(path).withColumnRenamed("value", "line")
        raw = lines.select(
            F.get_json_object("line", "$.properties").alias("properties"),
            F.get_json_object("line", "$.geometry").alias("__geojson__"))
    out = (raw.withColumn(geom, st.geom_from_geojson("__geojson__"))
              .drop("__geojson__"))
    if expand_properties:
        return _arrow.expand_properties(out, [], geom)
    return out


def to_geojson(df: DataFrame, path: str, *, geom: str = "geom",
               mode: str = "overwrite"):
    """Write newline-delimited GeoJSON Features (GeoJSONSeq). Properties =
    every non-geometry column; framing is native ``to_json`` so the only
    Python step is the geometry serialization UDF."""
    props = [c for c in df.columns if c != geom]
    # properties framed with native to_json; the raw geometry JSON string
    # is spliced in directly (its ragged coordinate nesting has no static
    # Spark type)
    line = F.concat(
        F.lit('{"type": "Feature", "properties": '),
        F.coalesce(F.to_json(F.struct(
            *[F.col(c).alias(c) for c in props])), F.lit("{}")),
        F.lit(', "geometry": '),
        F.coalesce(st.as_geojson(geom), F.lit("null")),
        F.lit("}"))
    df.select(line.alias("value")).write.mode(mode).text(path)
