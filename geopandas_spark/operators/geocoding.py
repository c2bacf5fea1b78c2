"""Geocoding wrappers (reference: geopandas/tools/geocoding.py:26-181).

The reference calls an external geopy service; no network exists here, so
the PROVIDER is injectable and the default is a clearly-marked
deterministic STUB. Everything engine-side is real: a ``mapInArrow``
pass whose other columns ride through as their Arrow buffers (NaN stays
NaN, NULL stays NULL), optional per-row rate limiting (the reference
wraps providers in geopy RateLimiter likewise), null passthrough, WKB
point output.

At cluster scale the rate limit matters more than the compute: each
executor throttles independently, so the aggregate request rate is
``executors / rate_limit_s`` — size the limit for the provider's quota.
"""

from __future__ import annotations

import hashlib
import time
from typing import Callable, Optional

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from geopandas_spark.geom import wkb as _wkb
from geopandas_spark.geom.array import GeometryBuilder
from geopandas_spark.operators._arrow import with_column


def _stub_forward(address: str):
    """STUB geocoder: deterministic lon/lat from the address hash."""
    h = hashlib.md5(address.encode("utf-8")).digest()
    lon = int.from_bytes(h[0:4], "little") % 360000 / 1000.0 - 180.0
    lat = int.from_bytes(h[4:8], "little") % 180000 / 1000.0 - 90.0
    return lon, lat


def _stub_reverse(x: float, y: float) -> str:
    return f"{abs(y):.3f}{'N' if y >= 0 else 'S'} {abs(x):.3f}" \
           f"{'E' if x >= 0 else 'W'}"


def geocode(df: DataFrame, address_col: str = "address", *,
            provider: Optional[Callable] = None,
            rate_limit_s: float = 0.0,
            out_col: str = "geom") -> DataFrame:
    """address string → WKB point column (None for unresolvable rows)."""
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != out_col]
        + [StructField(out_col, BinaryType(), True)])
    fwd = provider or _stub_forward

    def run(batches):
        for b in batches:
            bb = GeometryBuilder()
            for a in b.column(address_col).to_pylist():
                if rate_limit_s:
                    time.sleep(rate_limit_s)
                loc = fwd(a) if a is not None else None
                if loc is None:
                    bb.append_null()
                else:
                    bb.append_point(float(loc[0]), float(loc[1]))
            yield with_column(b, out_col, _wkb.encode_arrow(bb.finish()))

    return df.mapInArrow(run, schema=out_schema)


def reverse_geocode(df: DataFrame, geom: str = "geom", *,
                    provider: Optional[Callable] = None,
                    rate_limit_s: float = 0.0,
                    out_col: str = "address") -> DataFrame:
    """WKB point column → address string column."""
    out_schema = StructType(
        [f for f in df.schema.fields if f.name != out_col]
        + [StructField(out_col, StringType(), True)])
    rev = provider or _stub_reverse

    def run(batches):
        for b in batches:
            ga = _wkb.decode(b.column(geom))
            off = ga.coord_offsets_per_geom()
            miss = ga.is_missing()
            adds = []
            for i in range(len(ga)):
                if miss[i] or off[i] == off[i + 1]:
                    adds.append(None)
                    continue
                if rate_limit_s:
                    time.sleep(rate_limit_s)
                x, y = ga.coords[off[i]]
                adds.append(rev(float(x), float(y)))
            yield with_column(b, out_col, pa.array(adds, pa.string()))

    return df.mapInArrow(run, schema=out_schema)
