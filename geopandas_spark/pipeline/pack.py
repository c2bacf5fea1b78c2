"""Sequence packing for training-data pipelines: assign documents to
fixed-token-budget training sequences (the concat-then-chunk packing used
for LM pre-training — documents concatenate in a deterministic order and
sequences cut every ``budget`` tokens).

The core primitive is a *distributed* cumulative sum: a naive
``Window.orderBy(id)`` with no partition key collapses the whole dataset
onto one reducer — the classic 100 TB trap. Here:

1. range-repartition + sort by the order key (one shuffle, the same cost
   class as any global sort);
2. pass 1 collects per-partition token totals (a native aggregate over
   ``spark_partition_id()``, one tiny row per partition);
3. the driver prefix-sums those totals (a ~thousand-element Python loop)
   and ships the per-partition offsets in the pass-2 closure;
4. pass 2 adds local cumsum + partition offset, map-side, in one
   ``mapInArrow``.

Output is independent of where the sampled range boundaries fall — the
cumsum depends only on the global order — so results are deterministic
and the DuckDB oracle twin is a plain ``SUM(...) OVER (ORDER BY ...)``.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StructField, StructType

from geopandas_spark.operators._arrow import with_column


def distributed_cumsum(df: DataFrame, order_col: str, val_col: str,
                       out_col: str = "cumsum",
                       num_partitions: int = None) -> DataFrame:
    """Exclusive prefix sum of ``val_col`` in global ``order_col`` order
    (out_col = sum of all strictly-earlier rows). Scales: no single-reducer
    window, one range shuffle + a per-partition-totals collect. A NULL
    value counts as 0 and gets a NULL ``out_col``; every other column
    passes through as its Arrow buffers.

    The sorted partitions are a lazy local checkpoint: pass 1 materializes
    them, pass 2 reads the same partitions (so the offsets match), and
    nothing stays in the cache manager once the result is dropped."""
    from pyspark import TaskContext

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parts = (df.repartitionByRange(n, F.col(order_col))
               .sortWithinPartitions(order_col)
               .localCheckpoint(eager=False))

    rows = (parts.groupBy(F.spark_partition_id().alias("pid"))
                 .agg(F.sum(val_col).alias("total")).collect())
    acc, offsets = 0, {}
    for pid, total in sorted(rows):
        offsets[pid] = acc
        acc += int(total or 0)

    out_schema = StructType(
        [f for f in df.schema.fields if f.name != out_col]
        + [StructField(out_col, LongType())])

    def add_cumsum(batches):
        run = offsets.get(TaskContext.get().partitionId(), 0)
        for b in batches:
            v = b.column(val_col).cast(pa.int64())
            z = pc.fill_null(v, 0)
            excl = pc.add(pc.subtract(pc.cumulative_sum(z), z), run)
            run += pc.sum(z).as_py() or 0
            yield with_column(b, out_col,
                              pc.if_else(pc.is_valid(v), excl, None))

    return parts.mapInArrow(add_cumsum, out_schema)


def pack_sequences(df: DataFrame, budget: int, *,
                   token_col: str = None, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Concat-then-chunk packing: documents ordered by ``id_col``
    concatenate into one token stream; sequence k owns tokens
    [k·budget, (k+1)·budget). Adds:

    - ``n_tokens``  — the document's token count (whitespace tokens when
      ``token_col`` is absent);
    - ``tok_start`` — the document's offset in the global stream;
    - ``seq_first`` / ``seq_last`` — first/last training sequence the
      document lands in;
    - ``n_seqs``    — how many sequences it spans (boundary-crossing docs
      split, the standard LM-pretraining behavior).
    """
    from geopandas_spark.pipeline.text import token_count

    if token_col is None:
        df = df.withColumn("n_tokens",
                           token_count(text_col).cast("long"))
        token_col = "n_tokens"
    elif token_col != "n_tokens":
        df = df.withColumn("n_tokens", F.col(token_col).cast("long"))
    out = distributed_cumsum(df, id_col, "n_tokens", out_col="tok_start")
    b = F.lit(int(budget)).cast("long")
    return (out.withColumn("seq_first", F.floor(F.col("tok_start") / b))
               .withColumn("seq_last",
                           F.floor((F.col("tok_start")
                                    + F.greatest(F.col("n_tokens"),
                                                 F.lit(1)) - 1) / b))
               .withColumn("n_seqs", F.col("seq_last")
                           - F.col("seq_first") + 1))
