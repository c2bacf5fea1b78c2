"""The Arrow stages shared by the operators and the pipeline stages."""

from __future__ import annotations

import pyarrow as pa

from pyspark.sql.pandas.types import to_arrow_schema


def with_column(b: pa.RecordBatch, name: str, arr) -> pa.RecordBatch:
    """Batch ``b`` without its column ``name`` (if any), then ``arr`` as
    ``name`` at the end."""
    keep = [n for n in b.schema.names if n != name]
    return pa.RecordBatch.from_arrays([b.column(n) for n in keep] + [arr],
                                      names=keep + [name])


def apply_in_arrow(df, by, fn, schema):
    """``df.groupBy(by).applyInArrow`` of ``fn`` (one group's
    ``pa.Table`` in, a ``pa.Table`` out), each result cast to
    ``schema``'s Arrow form.

    Spark hands timestamps to ``fn`` labelled with the session time zone
    (say ``Etc/UTC``) but requires a grouped result's timestamps to be
    labelled ``UTC``; both hold UTC instants, so the cast relabels the
    type and copies no value. Every other passed-through column already
    has its exact type."""
    target = to_arrow_schema(schema)
    return df.groupBy(*([by] if isinstance(by, str) else by)).applyInArrow(
        lambda t: fn(t).cast(target), schema=schema)
