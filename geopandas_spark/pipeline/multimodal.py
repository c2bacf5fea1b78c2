"""Multimodal column plumbing: images/audio/video as opaque binary columns.

The decode step itself is STUBBED (no image/audio libraries in this
container — clearly marked below); everything Spark-side is real and
tested: schemas, ``mapInArrow`` plumbing (every other column passes
through as its Arrow buffers, so integers stay exact and NaN stays apart
from NULL), partition-size-aware batching, typed metadata structs. Swap
`_decode_image_stub` for a real decoder (PIL/cv2) on a cluster that has
one and nothing else changes.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (ArrayType, BinaryType, DoubleType, IntegerType,
                               StringType, StructField, StructType)

from geopandas_spark.operators._arrow import with_column

IMAGE_META_SCHEMA = StructType([
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("channels", IntegerType()),
    StructField("format", StringType()),
])


def _decode_image_stub(blob: bytes):
    """STUB decoder — deterministic fake.

    Real implementation needs PIL/libjpeg which are absent here; this
    derives stable pseudo-image metadata from the bytes so the distributed
    plumbing is fully exercisable and testable."""
    h = hashlib.md5(blob).digest()
    return {"width": 16 + h[0] % 64, "height": 16 + h[1] % 64,
            "channels": 3, "format": "fake"}


def _map_blobs(df: DataFrame, blob_col: str, outputs: list,
               per_blob) -> DataFrame:
    """``df`` plus the ``outputs`` fields (replacing columns of the same
    names), filled by ``per_blob(bytes)``: one value per output field for
    each non-NULL blob; a NULL blob gives NULL in every output. One
    ``mapInArrow``: a real decoder controls its memory by iterating Arrow
    batches, and the output schema is explicit and stable."""
    names = {f.name for f in outputs}
    schema = StructType([f for f in df.schema.fields if f.name not in names]
                        + outputs)
    types = [to_arrow_type(f.dataType) for f in outputs]
    nulls = (None,) * len(outputs)

    def run(batches):
        for b in batches:
            vals = [nulls if x is None else per_blob(x)
                    for x in b.column(blob_col).to_pylist()]
            cols = list(zip(*vals)) or [()] * len(outputs)
            for f, t, c in zip(outputs, types, cols):
                b = with_column(b, f.name, pa.array(c, t))
            yield b

    return df.mapInArrow(run, schema)


def decode_images(df: DataFrame, blob_col: str = "image",
                  out_col: str = "image_meta") -> DataFrame:
    """Attach typed image metadata decoded from the binary column."""
    return _map_blobs(df, blob_col,
                      [StructField(out_col, IMAGE_META_SCHEMA, True)],
                      lambda blob: (_decode_image_stub(blob),))


def extract_image_features(df: DataFrame, blob_col: str = "image",
                           out_col: str = "features",
                           dim: int = 16) -> DataFrame:
    """Deterministic feature vector per image (STUB: md5-seeded), shaped
    exactly like a real embedding extractor: binary in → array<double>
    out."""
    def features(blob):
        seed = int.from_bytes(hashlib.md5(blob).digest()[:8], "little")
        return (np.random.default_rng(seed).standard_normal(dim)
                .round(6).tolist(),)

    return _map_blobs(df, blob_col,
                      [StructField(out_col, ArrayType(DoubleType()), True)],
                      features)


def resize_images(df: DataFrame, width: int, height: int,
                  blob_col: str = "image",
                  out_col: str = "image_resized",
                  meta_col: str = "resized_meta") -> DataFrame:
    """Resize every image to ``width``×``height``.

    STUB resize (no PIL/libjpeg here): emits a deterministic byte payload of
    the right nominal size derived from the source bytes, so batch shape,
    memory profile and schema match a real resizer. The Spark plumbing is
    real: ``mapInArrow``, explicit output schema, null passthrough. Swap
    the inner function for PIL's ``Image.resize`` on a cluster that has
    it."""
    n = width * height * 3
    meta = {"width": width, "height": height, "channels": 3, "format": "raw"}

    def resize(blob):
        # STUB: tile the md5 digest to width*height*3 bytes — the size a
        # real uint8 RGB resize would produce.
        seed = hashlib.md5(blob).digest()
        return (seed * (n // len(seed) + 1))[:n], meta

    return _map_blobs(df, blob_col,
                      [StructField(out_col, BinaryType(), True),
                       StructField(meta_col, IMAGE_META_SCHEMA, True)],
                      resize)


def sample_frames(df: DataFrame, max_frames: int = 4,
                  blob_col: str = "video",
                  id_cols: tuple = ("doc_id",)) -> DataFrame:
    """Video → sampled frame rows (one output row per frame).

    The one-to-many shape is the real thing a frame sampler needs from the
    engine: ``mapInArrow`` yields MORE rows than it receives, so a 100 TB
    video corpus fans out to frames without ever materializing whole
    videos in one task. The id columns repeat by one Arrow ``take`` (exact
    values, NULL ids included). STUB decode: frame count and frame bytes
    derive deterministically from the blob (a real impl calls pyav/ffmpeg
    per batch row); nulls produce no rows."""
    fields = [f for f in df.schema.fields if f.name in id_cols]
    names = [f.name for f in fields]
    out_schema = StructType(fields + [
        StructField("frame_idx", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("frame", BinaryType())])

    def run(batches):
        for b in batches:
            rows, idxs, totals, frames = [], [], [], []
            for r, blob in enumerate(b.column(blob_col).to_pylist()):
                if blob is None:
                    continue
                n = 1 + hashlib.md5(blob).digest()[0] % max_frames
                rows += [r] * n
                idxs += range(n)
                totals += [n] * n
                frames += [hashlib.md5(blob + bytes([i])).digest()
                           for i in range(n)]
            ids = b.select(names).take(pa.array(rows, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                ids.columns + [pa.array(idxs, pa.int32()),
                               pa.array(totals, pa.int32()),
                               pa.array(frames, pa.binary())],
                names=names + ["frame_idx", "n_frames", "frame"])

    return df.mapInArrow(run, out_schema)
