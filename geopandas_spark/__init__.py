"""geopandas_spark — a PySpark-native geospatial analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of geopandas/geopandas (reference surveyed in SURVEY.md).

Data model (SURVEY.md §1): geometry travels as WKB ``BinaryType`` columns;
CRS is carried in column metadata. There is no GEOS/shapely in this
environment, so the geometry kernel itself (``geopandas_spark.geom``) is a
pure-numpy columnar implementation (GeoArrow-style offset layout) executed
inside Arrow UDFs and ``mapInArrow`` stages — the same plan shape the
reference uses at its own I/O boundaries (reference:
geopandas/array.py:217-252), but with our own computational-geometry
kernels instead of GEOS ufuncs.

Public surface:
- ``geopandas_spark.st`` — column functions (st_area, st_buffer, ...)
- ``geopandas_spark.operators`` — sjoin, dissolve, clip, overlay, explode
- ``geopandas_spark.sources`` — GeoParquet/GeoJSON read/write helpers
- ``geopandas_spark.pipeline`` — LLM-data-pipeline ops (dedup, similarity,
  text analysis, multimodal plumbing)
- ``register_sql(spark)`` — registers every st_* function for Spark SQL
"""

import geopandas_spark._worker  # noqa: F401  (first: trims worker task set-up)
from geopandas_spark.functions import st, register_sql  # noqa: F401
from geopandas_spark.frame import (  # noqa: F401
    GeoFrame, concat, from_features, read_file,
)

__version__ = "0.1.0"
__all__ = ["st", "register_sql"]
