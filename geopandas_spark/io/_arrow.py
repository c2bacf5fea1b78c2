"""The Arrow boundary of the file formats.

Every reader and writer in ``geopandas_spark.io`` that runs Python on
executors goes through these helpers, and values cross as Arrow columns,
never as pandas ones: integers stay exact, NULL stays apart from NaN and
a column keeps its Spark type.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, StringType, StructField,
                               StructType)

from geopandas_spark.geom import wkb

MAX_DOCUMENT_BYTES = 512 * 1024 * 1024


def input_bytes(spark: SparkSession, path: str) -> int:
    """Total size of the files matched by ``path`` (Hadoop glob), or -1 if
    the filesystem probe fails (non-fatal — caller skips the guard)."""
    try:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        hp = jvm.org.apache.hadoop.fs.Path(path)
        fs = hp.getFileSystem(conf)
        statuses = fs.globStatus(hp) or []
        total = 0
        for s in statuses:
            if s.isDirectory():
                it = fs.listFiles(s.getPath(), True)
                while it.hasNext():
                    total += it.next().getLen()
            else:
                total += s.getLen()
        return total
    except Exception:
        return -1


def ranges(lo: int, hi: int, k: int) -> list:
    """``[lo, hi)`` cut into at most ``k`` non-empty ``(start, stop)``
    ranges; one empty range when there is nothing to cut."""
    b = np.linspace(lo, hi, k + 1, dtype=np.int64)
    return [(int(x), int(y)) for x, y in zip(b[:-1], b[1:]) if y > x] \
        or [(lo, lo)]


def scan(spark: SparkSession, parts: list, read, schema: StructType
         ) -> DataFrame:
    """A DataFrame of ``schema`` with one partition per element of
    ``parts``, planned as ``Range`` + ``mapInArrow`` (not a Python RDD,
    which reruns on every execution). Task ``i`` calls ``read(parts[i])``,
    which returns a ``pa.Table``, or a mapping of column name to values
    (a list or an Arrow array) cast to the Arrow form of ``schema``. A list
    is typed from its own values before the cast, so a value the column
    type cannot hold (a float in an integer column typed from a sample)
    raises instead of being truncated."""
    arrow = to_arrow_schema(schema)

    def run(batches):
        for b in batches:
            for i in b.column(0).to_pylist():
                t = read(parts[i])
                if not isinstance(t, pa.Table):
                    t = pa.Table.from_arrays(
                        [pa.array(t[f.name]).cast(f.type) for f in arrow],
                        schema=arrow)
                yield from t.to_batches()

    return spark.range(len(parts), numPartitions=len(parts)) \
        .mapInArrow(run, schema)


def read_documents(spark: SparkSession, path: str, parse, lead: list,
                   geom: str, expand: bool, max_bytes: int,
                   fmt: str) -> DataFrame:
    """The files under ``path``, each one XML document parsed whole on an
    executor: ``parse(bytes)`` returns rows of ``(*lead, properties JSON,
    WKB)``, the ``lead`` columns being strings. With ``expand`` the
    properties become typed columns (:func:`expand_properties`)."""
    nbytes = input_bytes(spark, path)
    if nbytes > max_bytes:
        raise ValueError(
            f"{fmt} input is {nbytes >> 20} MiB, above the "
            f"{max_bytes >> 20} MiB per-document ceiling (one XML document "
            "cannot parse distributed). Split the export into several "
            "files, or raise max_file_bytes= explicitly.")
    schema = StructType([StructField(c, StringType()) for c in lead]
                        + [StructField("properties", StringType()),
                           StructField(geom, BinaryType())])
    arrow = to_arrow_schema(schema)

    def run(batches):
        for b in batches:
            rows = [r for data in b.column("content").to_pylist()
                    for r in parse(data)]
            cols = list(zip(*rows)) or [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, f.type) for c, f in zip(cols, arrow)],
                schema=arrow)

    out = (spark.read.format("binaryFile").load(path).select("content")
           .mapInArrow(run, schema))
    return expand_properties(out, lead, geom) if expand else out


def expand_properties(out: DataFrame, lead: list, geom: str) -> DataFrame:
    """Replace ``out``'s JSON ``properties`` column by one typed column per
    property, between the ``lead`` columns and ``geom``. The schema is
    Spark's JSON inference unioned over up to 200 non-empty property
    objects, so a property the first row lacks still gets its column; one
    first seen beyond the sample is dropped (documented limit)."""
    spark = out.sparkSession
    sample = [r[0] for r in out.select("properties").filter(
        F.col("properties").isNotNull()).limit(200).collect()
        if r[0] and r[0] != "{}"]
    fields = []
    if sample:
        fields = [f for f in spark.read.json(
            spark.sparkContext.parallelize(sample, 1)).schema.fields
            if not f.name.startswith("_corrupt")]
    if not fields:
        return out.drop("properties")
    return (out.withColumn("__p__",
                           F.from_json("properties", StructType(fields)))
            .select(*lead, "__p__.*", geom))


def values(arr: pa.Array) -> list:
    """An Arrow column as Python values for the writers' text: NULL is
    None and integers stay exact; timestamps are naive wall-clock times in
    the session time zone, maps are dicts, and float32 values keep their
    short text (``1.1``, not ``1.100000023841858``)."""
    t = arr.type
    vals = arr.to_pylist()
    if pa.types.is_timestamp(t) and t.tz:
        return [v if v is None else v.replace(tzinfo=None) for v in vals]
    if pa.types.is_map(t):
        return [v if v is None else dict(v) for v in vals]
    if pa.types.is_float32(t):
        return [v if v is None else np.float32(v) for v in vals]
    return vals


def missing(v) -> bool:
    """NULL or a NaN float: the writers leave such a value out."""
    return v is None or (isinstance(v, (float, np.floating)) and v != v)


LOCAL_CHUNK_ROWS = 2000


def local_chunks(df: DataFrame, geom: str):
    """Stream ``df`` to the driver (``toLocalIterator``, bounded memory) in
    lists of up to ``LOCAL_CHUNK_ROWS`` rows; yields each list with its
    ``geom`` column decoded by one ``wkb.decode`` (a decode per row costs
    ~1000x more per geometry)."""
    it = df.toLocalIterator(prefetchPartitions=True)
    while chunk := list(itertools.islice(it, LOCAL_CHUNK_ROWS)):
        yield chunk, wkb.decode([r[geom] for r in chunk])


def write_document(df: DataFrame, geom: str, path: str, head: str,
                   fragment, tail: str) -> None:
    """Write ``head``, one text fragment per row of ``df``, then ``tail``.
    Fragments are rendered on executors in one ``mapInArrow`` pass by
    ``fragment(ga, i, row)``: the batch's decoded geometry, the row index
    and the row's other values as ``{column: value}``, missing ones left
    out. The driver streams them into the file one partition at a time."""
    props = [c for c in df.columns if c != geom]

    def run(batches):
        for b in batches:
            ga = wkb.decode(b.column(geom))
            cols = [(c, values(b.column(c))) for c in props]
            frags = [fragment(ga, i, {c: v[i] for c, v in cols
                                      if not missing(v[i])})
                     for i in range(b.num_rows)]
            yield pa.RecordBatch.from_arrays([pa.array(frags, pa.string())],
                                             ["frag"])

    frags = df.mapInArrow(run, "frag string")
    with open(path, "w", encoding="utf-8") as f:
        f.write(head)
        for row in frags.toLocalIterator(prefetchPartitions=True):
            f.write(row["frag"])
        f.write(tail)
