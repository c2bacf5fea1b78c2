"""Streaming geospatial plans.

- ``enrich_stream``: stream-static spatial join — tags each streaming
  geometry with the attributes of the static polygons it intersects. The
  static side is collected once and probed per micro-batch inside the same
  vectorized mapInArrow harness the batch broadcast sjoin uses; the final
  attach is a stream-static broadcast equi-join (natively supported by
  Structured Streaming).
- ``windowed_union``: watermarked tumbling/sliding-window geometric union.
  GROUPED_AGG pandas UDFs are not allowed in streaming aggregates, so the
  plan collects WKB natively (state-store-backed, partial-aggregated) and
  reduces with one scalar ``st_union_array`` call per window.
- ``filter_stream_bbox``: predicate filtering against a literal box —
  pure column expression, here only to name the pattern.

The two stateful stages (``cell_stats_stream``, ``lsh_dedup_stream``) are
the engine's only pandas UDF stages; everything else crosses into Python
as Arrow. They stay on ``applyInPandasWithState`` because PySpark 4.1's
non-pandas ``transformWithState`` is documented with the RocksDB
state-store provider set as a session conf
(``spark.sql.streaming.stateStore.providerClass``), and a library call
must not flip a session conf under its caller — the reason ``to_fgb`` no
longer sets one. It also needs ``protobuf`` on the workers, which PySpark
does not install.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from geopandas_spark.functions import st
from geopandas_spark.operators.sjoin import sjoin


def enrich_stream(stream: DataFrame, static: DataFrame, *,
                  predicate: str = "intersects", geom_left: str = "geom",
                  geom_right: str = "geom", how: str = "inner",
                  distance: Optional[float] = None) -> DataFrame:
    """Stream-static spatial join (streaming left, static right).

    Same physical shape as the batch broadcast sjoin: the static side is
    small by stream-static-join rules; per micro-batch each Arrow batch of
    the stream probes the in-closure geometry set with the vectorized bbox
    prefilter + exact refine.
    """
    if how not in ("inner", "left"):
        raise ValueError("stream-static sjoin supports how=inner/left")
    return sjoin(stream, static, predicate=predicate, how=how,
                 geom_left=geom_left, geom_right=geom_right,
                 distance=distance, strategy="broadcast")


def windowed_union(stream: DataFrame, time_col: str, window: str, *,
                   slide: Optional[str] = None, geom: str = "geom",
                   watermark: str = "10 minutes", extra_keys=()) -> DataFrame:
    """Watermarked windowed geometric union (+ count) per window.

    Late rows beyond the watermark are dropped by the engine; each closed
    window emits one row with the union of its geometries.
    """
    w = F.window(time_col, window, slide) if slide else \
        F.window(time_col, window)
    return (stream.withWatermark(time_col, watermark)
            .groupBy(w.alias("window"), *[F.col(k) for k in extra_keys])
            .agg(F.collect_list(geom).alias("__geoms__"),
                 F.count("*").alias("n"))
            .withColumn(geom, st.union_array("__geoms__"))
            .drop("__geoms__"))


def filter_stream_bbox(stream: DataFrame, bbox, *,
                       geom: str = "geom") -> DataFrame:
    """Keep rows intersecting a literal box (reference cx[] analogue,
    geopandas/base.py:6206-6240) — stateless, fully streaming-safe."""
    xmin, ymin, xmax, ymax = (float(v) for v in bbox)
    return stream.filter(st.intersects(
        F.col(geom), st.makebox(F.lit(xmin), F.lit(ymin), F.lit(xmax),
                                F.lit(ymax))))


def dedup_stream(stream: DataFrame, *, key=None, geom: str = "geom",
                 time_col: Optional[str] = None,
                 watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact deduplication on a content key.

    Default key = the geometry's WKB bytes (the reference's
    factorize-via-WKB equality, array.py:1688-1706); pass ``key`` for
    attribute/text dedup. Entirely native: ``dropDuplicatesWithinWatermark``
    keeps per-key state in the state store and expires it as the watermark
    advances, so state is bounded — the shape a 100 TB/day dedup stream
    needs (an unbounded ``dropDuplicates`` would accrete state forever).
    Without ``time_col`` falls back to the unbounded exact variant.
    """
    key_col = F.col(key) if key else F.col(geom)
    tagged = stream.withColumn("__dk__", F.sha2(
        key_col.cast("binary") if key else key_col, 256))
    if time_col is None:
        return tagged.dropDuplicates(["__dk__"]).drop("__dk__")
    return (tagged.withWatermark(time_col, watermark)
                  .dropDuplicatesWithinWatermark(["__dk__"])
                  .drop("__dk__"))


def cell_stats_stream(stream: DataFrame, cell_size: float, *,
                      geom: str = "geom", timeout_ms: int = 0) -> DataFrame:
    """Custom stateful operator: running per-grid-cell stats via
    ``applyInPandasWithState``.

    Each centroid maps natively to a grid cell; per cell the state holds a
    running (count, total_bounds) that every micro-batch updates — the
    canonical "hypertable rollup" shape for a geometry stream. State is one
    tiny tuple per cell (bounded by the grid, not the stream), updates are
    vectorized numpy over the batch, and the cell key is the shuffle key —
    the same partitioning a 1000-executor cluster would use.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (DoubleType, LongType, StringType,
                                   StructField, StructType)

    out_schema = StructType([
        StructField("cell", StringType()),
        StructField("n", LongType()),
        StructField("xmin", DoubleType()), StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()), StructField("ymax", DoubleType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("xmin", DoubleType()), StructField("ymin", DoubleType()),
        StructField("xmax", DoubleType()), StructField("ymax", DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        n = 0
        xmin = ymin = float("inf")
        xmax = ymax = float("-inf")
        if state.exists:
            n, xmin, ymin, xmax, ymax = state.get
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                xmin = min(xmin, float(pdf["__bx0__"].min()))
                ymin = min(ymin, float(pdf["__by0__"].min()))
                xmax = max(xmax, float(pdf["__bx1__"].max()))
                ymax = max(ymax, float(pdf["__by1__"].max()))
        state.update((n, xmin, ymin, xmax, ymax))
        yield pd.DataFrame([{"cell": key[0], "n": n, "xmin": xmin,
                             "ymin": ymin, "xmax": xmax, "ymax": ymax}])

    c = stream.withColumn("__ct__", st.centroid(F.col(geom)))
    b = c.withColumn("__b__", st.bounds(F.col(geom)))
    keyed = (b.withColumn("__cell__", F.concat_ws(
                 ",",
                 F.floor(st.x("__ct__") / F.lit(cell_size)).cast("string"),
                 F.floor(st.y("__ct__") / F.lit(cell_size)).cast("string")))
              .select(F.col("__cell__"),
                      F.col("__b__.xmin").alias("__bx0__"),
                      F.col("__b__.ymin").alias("__by0__"),
                      F.col("__b__.xmax").alias("__bx1__"),
                      F.col("__b__.ymax").alias("__by1__")))
    return (keyed.groupBy("__cell__")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def sjoin_stream_stream(left: DataFrame, right: DataFrame, *,
                        time_left: str = "ts", time_right: str = "ts",
                        cell_size: float, predicate: str = "intersects",
                        distance: Optional[float] = None,
                        max_delay: str = "5 minutes",
                        watermark: str = "10 minutes",
                        geom_left: str = "geom", geom_right: str = "geom",
                        lsuffix: str = "left",
                        rsuffix: str = "right") -> DataFrame:
    """Stream-stream spatial join within a time tolerance — two live
    geometry streams matched on a spatial predicate when their event
    times are within ``max_delay`` of each other. No reference analogue
    (the reference has no streaming at all, SURVEY §2.9); this is the
    grid sjoin re-expressed under Structured Streaming's stream-stream
    join rules:

    - each side explodes its (padded) bbox into covering grid cells —
      native ``sequence``+``explode``, stateless;
    - the join itself is an equi-join on (cell_x, cell_y) plus the
      ``|t_left - t_right| <= max_delay`` range condition. Equality keys
      give the state store a shuffle key; the time range + watermarks
      bound how long each row is retained — state is
      O(rows within the watermark horizon), never the whole stream;
    - the reference-point filter (pair kept only in the cell holding the
      lower-left corner of the bbox intersection) dedups cell-duplicated
      pairs statelessly — streaming cannot run a post-join ``distinct``;
    - the exact predicate refines last (the plan's only UDF).

    ``cell_size`` must be chosen by the caller (a stream cannot be
    sampled for the batch path's cost model): pick the typical geometry
    bbox size, or the dwithin ``distance``.
    """
    if predicate == "dwithin":
        if distance is None:
            raise ValueError("dwithin requires distance")
    elif predicate not in ("intersects", "contains", "within", "covers",
                           "covered_by", "touches", "crosses", "overlaps"):
        raise ValueError(f"unsupported predicate {predicate!r}")
    pad = float(distance or 0.0)
    w = float(cell_size)

    overlap = sorted(set(left.columns) & set(right.columns))
    for c in overlap:
        left = left.withColumnRenamed(c, f"{c}_{lsuffix}")
        right = right.withColumnRenamed(c, f"{c}_{rsuffix}")
    gl = f"{geom_left}_{lsuffix}" if geom_left in overlap else geom_left
    gr = f"{geom_right}_{rsuffix}" if geom_right in overlap else geom_right
    tl = f"{time_left}_{lsuffix}" if time_left in overlap else time_left
    tr = f"{time_right}_{rsuffix}" if time_right in overlap else time_right

    lb = (left.withColumn("__lbb__", st.bounds(gl))
              .withWatermark(tl, watermark))
    rb = (right.withColumn("__rbb__", st.bounds(gr))
               .withWatermark(tr, watermark))

    def cells(df, bb, cx, cy, pre_pad):
        x0 = F.floor((F.col(f"{bb}.xmin") - F.lit(pre_pad)) / F.lit(w))
        x1 = F.floor((F.col(f"{bb}.xmax") + F.lit(pre_pad)) / F.lit(w))
        y0 = F.floor((F.col(f"{bb}.ymin") - F.lit(pre_pad)) / F.lit(w))
        y1 = F.floor((F.col(f"{bb}.ymax") + F.lit(pre_pad)) / F.lit(w))
        return (df.withColumn(cx, F.explode(F.sequence(x0, x1)))
                  .withColumn(cy, F.explode(F.sequence(y0, y1))))

    lc = cells(lb, "__lbb__", "__lcx__", "__lcy__", pad)
    rc = cells(rb, "__rbb__", "__rcx__", "__rcy__", 0.0)

    delay = F.expr(f"interval {max_delay}")
    cond = ((F.col("__lcx__") == F.col("__rcx__")) &
            (F.col("__lcy__") == F.col("__rcy__")) &
            (F.col(tl) >= F.col(tr) - delay) &
            (F.col(tl) <= F.col(tr) + delay))
    cand = lc.join(rc, on=cond, how="inner")

    refx = F.greatest(F.col("__lbb__.xmin") - F.lit(pad),
                      F.col("__rbb__.xmin"))
    refy = F.greatest(F.col("__lbb__.ymin") - F.lit(pad),
                      F.col("__rbb__.ymin"))
    cand = cand.filter((F.col("__lcx__") == F.floor(refx / F.lit(w))) &
                       (F.col("__lcy__") == F.floor(refy / F.lit(w))))

    if predicate == "dwithin":
        cand = cand.filter(st.dwithin(gl, gr, F.lit(float(distance))))
    else:
        pred_fn = {"intersects": st.intersects, "contains": st.contains,
                   "within": st.within, "covers": st.covers,
                   "covered_by": st.covered_by, "touches": st.touches,
                   "crosses": st.crosses, "overlaps": st.overlaps}[predicate]
        cand = cand.filter(pred_fn(gl, gr))
    return cand.drop("__lbb__", "__rbb__", "__lcx__", "__lcy__",
                     "__rcx__", "__rcy__")


def lsh_dedup_stream(stream: DataFrame, *, id_col: str = "doc_id",
                     text_col: str = "text", num_hashes: int = 8,
                     bands: int = 4, k: int = 5) -> DataFrame:
    """Streaming near-duplicate detection: MinHash-LSH bucket state.

    The streaming face of the batch ``minhash_lsh_pairs``: signatures are
    one Arrow UDF pass and band keys native expressions; per LSH bucket,
    ``applyInPandasWithState`` keeps only the FIRST-seen document id.
    Every later document landing in an already-claimed bucket emits a
    candidate row
    ``(id, first_id, band)`` — duplicates are detected across
    micro-batches, the ingestion-time shape batch dedup can't cover.
    Consumers drop ``DISTINCT id`` or verify candidates with the batch
    Jaccard scorer.

    Scale: state is ONE short string per occupied bucket (bounded by the
    corpus's distinct-band cardinality, not the stream length), the
    bucket key is the shuffle key, and the per-batch update is a tiny
    pandas pass. IDs are carried as strings so the state schema stays
    type-stable for any id column."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, StringType, StructField, \
        StructType

    from geopandas_spark.pipeline.dedup import minhash_signatures

    rows = num_hashes // bands
    if rows < 1:
        raise ValueError("num_hashes must be >= bands")
    sigs = minhash_signatures(stream, text_col, num_hashes, k)
    # ONE signature pass (r13): the per-band union re-planned the
    # signature subtree (scan + sig kernel) once per band branch;
    # posexplode emits the same (id, bk, band) rows from a single
    # evaluation. Values identical: pos == b and the key embeds the
    # same str(b) prefix.
    keys = [F.concat_ws(
        "#", F.lit(str(b)),
        *[F.col(f"mh{b * rows + r}") for r in range(rows)])
        for b in range(bands)]
    banded = (sigs.select(F.col(id_col).cast("string").alias("id"),
                          F.posexplode(F.array(*keys))
                           .alias("band", "bk"))
              .select("id", "bk", "band"))

    out_schema = StructType([
        StructField("id", StringType()),
        StructField("first_id", StringType()),
        StructField("band", IntegerType()),
    ])
    state_schema = StructType([StructField("first", StringType())])

    def update(key, pdfs, state: GroupState):
        import pandas as pd
        first = state.get[0] if state.exists else None
        ids, firsts, bnds = [], [], []
        for pdf in pdfs:
            for i, bnd in zip(pdf["id"], pdf["band"]):
                if first is None:
                    first = i
                elif i != first:
                    ids.append(i)
                    firsts.append(first)
                    bnds.append(int(bnd))
        state.update((first,))
        yield pd.DataFrame({"id": ids, "first_id": firsts, "band": bnds})

    return (banded.groupBy("bk")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))
