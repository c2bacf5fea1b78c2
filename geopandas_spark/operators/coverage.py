"""Coverage operators (SURVEY.md §2.2): whole-group checks/transforms over
a polygonal coverage.

Reference: is_valid_coverage (geopandas/base.py:378), invalid_coverage_edges
(:450), simplify_coverage (:5536) — GEOS≥3.12 coverage machinery. These are
inherently group-scoped (a "coverage" is a set of rows), so they run as
``applyInArrow`` over user-chosen partition keys: one shuffle, then the
kernel sees each coverage whole. Geometry is decoded from and encoded to
Arrow WKB; every other column passes through as its Arrow buffers, so
NaN and NULL values come out as they went in.

Scale note: the grouping key IS the unit of memory — a coverage group must
fit one task. For planet-scale layers, key by a spatial partition (e.g.
``hilbert_repartition`` cell or an admin id); validity/simplification are
local properties along shared edges, so per-cell results compose as long as
cell boundaries follow coverage edges (document per use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StructField, StructType

from geopandas_spark.geom import algos, wkb
from geopandas_spark.operators._arrow import apply_in_arrow


def invalid_coverage_edges(df: DataFrame, by, *, geom: str = "geom",
                           gap_width: float = 0.0,
                           out: str = "invalid_edges") -> DataFrame:
    """Per-row MULTILINESTRING WKB of coverage-breaking boundary portions
    (empty when the row is clean within its group's coverage). With
    ``gap_width`` > 0, boundary segments bordering a narrow gap are
    flagged too (reference base.py:450 kwarg; r13)."""
    schema = StructType(df.schema.fields +
                        [StructField(out, BinaryType(), True)])

    def fn(t):
        ga = wkb.decode(t.column(geom))
        return t.append_column(out, wkb.encode_arrow(
            algos.invalid_coverage_edges(ga, gap_width=gap_width)))

    return apply_in_arrow(df, by, fn, schema)


def simplify_coverage(df: DataFrame, tolerance: float, by, *,
                      geom: str = "geom") -> DataFrame:
    """Topology-preserving simplification of each group's coverage: shared
    arcs are simplified once and reused by both neighbors, so valid
    coverages stay valid and edges stay coincident."""
    schema = df.schema

    def fn(t):
        i = t.schema.get_field_index(geom)
        return t.set_column(i, t.schema.field(i), wkb.encode_arrow(
            algos.simplify_coverage(wkb.decode(t.column(i)), tolerance)))

    return apply_in_arrow(df, by, fn, schema)
