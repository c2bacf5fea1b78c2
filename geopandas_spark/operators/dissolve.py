"""dissolve / total_bounds: geometric aggregation (SURVEY.md §2.5).

Reference: GeoDataFrame.dissolve (geopandas/geodataframe.py:2172-2327) =
groupby over attribute columns + per-group geometric union.

Every Python stage is an Arrow one: the per-key merge is a grouped
``applyInArrow`` (geometry union and attribute aggregates in one pass,
since Spark cannot mix a Python grouped aggregate with native ones in
one ``agg``), and the two-phase plan's partition-local combine is a
``mapInArrow``. Geometry goes through ``wkb.decode`` / ``wkb.encode_arrow``
and key values are copied as Arrow values, so the output keys are
exactly Spark's grouping keys (NaN and NULL are different keys). Each
attribute column goes to pandas on its own for its aggfunc
(``_apply_one``), so every plan skips NaN and NULL as the reference's
pandas groupby does.

``_plan`` picks one of three plans per call:

* ``single``: exchange on the keys, one merge per key;
* ``two_phase``: union within each input partition first (no shuffle),
  then merge the partials per key — one hot key never holds its whole
  group in one task;
* ``dedupe``: a native (key, geometry) hash aggregate collapses
  byte-identical rows before any Arrow transfer, then the same per-key
  merge of partials."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (BinaryType, DoubleType, FloatType, LongType,
                               StructField, StructType)

from geopandas_spark.functions import st
from geopandas_spark.geom import algos, wkb
from geopandas_spark.operators._arrow import apply_in_arrow
from geopandas_spark.operators.sjoin import _bounds_np, _ensure_parallelism

_PARTIAL = {"sum": "sum", "min": "min", "max": "max", "count": "sum",
            "first": "first"}
# named aggs that can't split into associative partials (run single-phase)
_HOLISTIC = {"median", "std", "var", "nunique"}

# plan memo keyed by (plan semanticHash, by, geom, two_phase): the plan is
# a perf-only choice, so a (rare) hash collision costs speed, never
# correctness
_PLAN_CACHE: dict = {}


def _probe_duplication(df: DataFrame, by, geom: str) -> bool:
    """One agg job (no shuffle: map-side HLL partials) comparing row count
    vs approx-distinct (by, geom). The 25% sample keeps the probe from
    paying full geometry construction; sampling only ever UNDER-observes
    duplication (dup_sample <= dup_true), so the >=2.5x-on-sample gate is
    a sufficient condition for ~>=4x true duplication — a miss just keeps
    the regular two-phase plan (correct, slower)."""
    try:
        # the limit caps probe work at scale (0.25 of a 100 TB input is
        # not a plan-time cost): Spark stops the sampled scan once 200k
        # rows surface. Duplication in the target workloads (duplicate
        # records everywhere) shows up in any contiguous slice; a
        # duplication pattern the first partitions miss just keeps the
        # regular two-phase plan.
        pr = (df.sample(fraction=0.25, seed=7).limit(200_000)
              .agg(F.count(F.lit(1)).alias("n"),
                   F.approx_count_distinct(
                       F.struct(*by, geom)).alias("nd")).collect()[0])
        return bool(pr.n > 0 and pr.n >= 2.5 * max(pr.nd, 1))
    except Exception:
        return False


def _probe_phase1_gain(df: DataFrame, by, geom: str, nparts: int) -> bool:
    """Sampled bbox-overlap density → should the two-phase combine run?

    Phase-1's per-(partition, key) union only pays for itself when it
    actually MERGES geometry; on sparse inputs the partials are as big
    as the input and phase 2 redoes the entire union — the combine is a
    pure second sweep (measured 5.5 s vs 4.0 s single-phase on a
    600k-box dissolve). Single-phase is memory-safe exactly in that
    regime: no reduction means the phase-2 task holds the same bytes
    either way. Estimate: bbox-overlap pairs in a ≤10k-row sample give
    the global per-row partner count; scaled to one phase-1 group
    (n / (partitions × keys) rows drawn ~randomly) it must reach ~0.5
    partners per row for the combine to shrink anything. Estimation
    error only ever costs speed, never correctness or memory."""
    try:
        stats = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(F.struct(*by)).alias("k")).collect()[0]
        n, k = int(stats.n), max(int(stats.k), 1)
        if n == 0:
            return False
        s_target = 10_000
        samp = (df.sample(fraction=min(1.0, 3.0 * s_target / n), seed=7)
                .limit(s_target).select(st.bounds(geom).alias("b"))
                .toArrow().column(0))
        bbs = _bounds_np(samp)
        bbs = bbs[~np.isnan(bbs[:, 0])]
        s = len(bbs)
        if s < 100:
            return True          # too little signal: keep the safe default
        g = n / float(nparts * k)
        # partners/row within a group = 2·pairs_sample/s² · g  (the N's
        # cancel); decide as soon as the running pair count crosses the
        # threshold instead of sweeping the whole sample
        need = 0.5 * s * s / (2.0 * max(g, 1.0))
        order = np.argsort(bbs[:, 0])
        sb = bbs[order]
        hi = np.searchsorted(sb[:, 0], sb[:, 2])
        pairs = 0
        for i in range(s):
            if hi[i] <= i + 1:
                continue
            w_ = sb[i + 1:hi[i]]
            pairs += int(((w_[:, 1] <= sb[i, 3]) &
                          (w_[:, 3] >= sb[i, 1])).sum())
            if pairs >= need:
                return True
        return False
    except Exception:
        return True


def _plan(df: DataFrame, by, geom: str, holistic: bool, two_phase) -> str:
    """``"single" | "dedupe" | "two_phase"``, probed at most once per
    (plan, keys, geometry, two_phase).

    Holistic aggfuncs, ``two_phase=False`` and (when ``two_phase`` is
    None) a single input partition take ``single``. Otherwise the
    duplication probe runs first: a sparse but duplicate-heavy input
    has few overlap partners per phase-1 group, yet its winning plan is
    the native dedupe, so the phase probe must not decide it away.
    Without duplication, ``two_phase=True`` takes ``two_phase`` and
    ``None`` asks the phase probe."""
    if holistic or two_phase is False:
        return "single"
    nparts = None
    if two_phase is None:
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:
            nparts = 2
        if nparts <= 1:
            return "single"
    try:
        ck = (df.semanticHash(), tuple(by), geom, two_phase)
    except Exception:
        ck = None
    if ck is not None and ck in _PLAN_CACHE:
        return _PLAN_CACHE[ck]
    if _probe_duplication(df, by, geom):
        plan = "dedupe"
    elif two_phase or _probe_phase1_gain(df, by, geom, nparts):
        plan = "two_phase"
    else:
        plan = "single"
    if ck is not None:
        if len(_PLAN_CACHE) > 256:
            _PLAN_CACHE.clear()
        _PLAN_CACHE[ck] = plan
    return plan


def _exchange(df: DataFrame, by) -> DataFrame:
    """Hash-partition on the keys, wider than the default shuffle: with
    ~#cores keys, default-width hash collisions put 2-3 heavy per-key
    unions on one task and they serialize (measured 2x on a 600k-box
    dissolve, 25 keys into 32 partitions). The partitioning satisfies
    the grouped stage's required distribution, so no second exchange
    is added."""
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
        return df.repartition(max(4 * cores, 64), *by)
    except Exception:
        return df


def _fn_label(fn) -> str:
    if callable(fn):
        n = getattr(fn, "__name__", "agg")
        return "agg" if n == "<lambda>" else n
    return str(fn)


def _norm_aggfunc(aggfunc) -> list:
    """{col: fn | [fn, ...]} → [(col, fn, out_name)] with unique names
    (pandas-agg flattened naming: col_fn; reference dissolve accepts the
    same dict/list/callable forms, geodataframe.py:2305)."""
    out, seen = [], set()
    for c, fns in dict(aggfunc or {}).items():
        if not isinstance(fns, (list, tuple)):
            fns = [fns]
        for fn in fns:
            if not callable(fn) and fn not in _PARTIAL and \
                    fn not in _HOLISTIC and fn != "mean":
                raise ValueError(f"unsupported aggfunc {fn!r}")
            name = f"{c}_{_fn_label(fn)}"
            k = name
            i = 2
            while k in seen:
                k = f"{name}{i}"
                i += 1
            seen.add(k)
            out.append((c, fn, k))
    return out


def _agg_out_field(field, fn, name):
    if fn == "count" or fn == "nunique":
        return StructField(name, LongType(), False)
    if callable(fn) or fn in ("sum", "mean", "median", "std", "var"):
        return StructField(name, DoubleType(), True)
    return StructField(name, field.dataType, True)


def _apply_one(col, fn):
    """``fn`` over one attribute column (Arrow) by pandas' rules: NaN and
    NULL are both skipped (``first`` is the first non-missing value)."""
    s = col.to_pandas()
    if callable(fn):
        return float(fn(s))
    if fn == "first":
        s = s.dropna()
        return s.iloc[0] if len(s) else None
    v = getattr(s, fn)()
    return int(v) if fn in ("count", "nunique") else \
        v if fn in ("min", "max") else float(v)


def _union(col, method: str, explode: bool = False) -> pa.Array:
    """The union of one group's WKB column as a one-row WKB array;
    ``explode`` unions the parts of the rows (partials of a merge)."""
    ga = wkb.decode(col)
    if explode:
        ga = algos.get_parts(ga)[0]
    return wkb.encode_arrow(algos.union_all(ga, method=method))


def _rows(groups, by, geom, method, explode, outs, names) -> pa.Table:
    """One row per table in ``groups`` (each one key's rows): the key
    values of its first row, copied as Arrow values, the union of its
    geometry, then ``outs`` = [(Arrow type, table -> Python value)].
    A NaN aggregate becomes NULL, as a pandas result column would."""
    keys = pa.concat_tables([g.select(by).slice(0, 1) for g in groups])
    cols = [c.combine_chunks() for c in keys.columns]
    cols.append(pa.concat_arrays(
        [_union(g.column(geom), method, explode) for g in groups]))
    cols += [pa.array([f(g) for g in groups], type=t, from_pandas=True)
             for t, f in outs]
    return pa.Table.from_arrays(cols, names=names)


def dissolve(df: DataFrame, by, aggfunc=None, *, geom: str = "geom",
             two_phase=None, method: str = "unary") -> DataFrame:
    """GroupBy ``by``, union geometries, aggregate other columns with
    ``aggfunc`` = {column: fn | [fn, ...]} where fn is one of
    "sum"|"min"|"max"|"count"|"first"|"mean"|"median"|"std"|"var"|
    "nunique" or an arbitrary Python callable Series -> scalar (cast to
    double) — the reference accepts the same pandas-agg forms
    (geodataframe.py:2305). Output columns are named ``col_fn``.

    ``method="coverage"`` (reference dissolve(method=),
    geodataframe.py:2172) takes the edge-cancellation coverage-union fast
    path per group — the right choice when groups are edge-matched tiles
    (dissolve after grid partitioning); subsets of a coverage are still
    coverages, so the two-phase partials compose. Detectable violations
    fall back to the full union per group; like GEOS CoverageUnion,
    crossing overlaps that share no edge are undefined input.

    ``two_phase`` pre-unions WITHIN each input partition (shuffle-free
    ``mapInArrow`` combine) before the final per-key merge, so one hot
    key never concentrates its whole group in a single task's memory —
    the scale-safe plan. Default ``None`` = auto: probed when the input
    has more than one partition (with a single partition the combine is
    pure overhead and the plans are identical). ``mean`` splits into
    sum+count partials and divides at the end. Holistic aggs (median/std/
    var/nunique and callables) have no associative partial form, so their
    presence forces the single-phase plan — hot-key exposure is inherent
    to them, exactly as in the reference's groupby-apply."""
    if method not in ("unary", "coverage", "disjoint_subset"):
        raise ValueError(f"unknown union method {method!r}")
    if isinstance(by, str):
        by = [by]
    aggs = _norm_aggfunc(aggfunc)
    holistic = any(callable(fn) or fn in _HOLISTIC for _, fn, _ in aggs)
    # Project to the columns dissolve actually reads (keys + geometry +
    # aggfunc inputs) BEFORE any shuffle or Python stage: the grouped
    # Arrow ops below are opaque to Catalyst, so without this every
    # input column — however wide the frame — is shuffled in the
    # exchange and serialized through Arrow, only to be dropped by the
    # output schema (guide §2.3 "project before the exchange", §4.1
    # "pass only the columns the function needs").
    need = list(dict.fromkeys([*by, geom, *(c for c, _, _ in aggs)]))
    if set(need) != {f.name for f in df.schema.fields}:
        df = df.select(*need)
    plan = _plan(df, by, geom, holistic, two_phase)

    in_fields = {f.name: f for f in df.schema.fields}
    head = [in_fields[k] for k in by] + [StructField(geom, BinaryType(), True)]
    fields = [_agg_out_field(in_fields[c], fn, name) for c, fn, name in aggs]
    out_schema = StructType(head + fields)

    def grouped(outs, explode):
        """The Arrow function of one stage: one output row per group,
        with ``outs`` = [(StructField, table -> value)] after the key and
        geometry columns."""
        names = by + [geom] + [f.name for f, _ in outs]
        spec = [(to_arrow_type(f.dataType), v) for f, v in outs]
        return lambda groups: _rows(groups, by, geom, method, explode,
                                    spec, names)

    # the aggfunc over the raw rows of a key (single plan) or of a
    # (key, partition) group (partials of the two-phase plan)
    direct = [(f, lambda g, c=c, fn=fn: _apply_one(g.column(c), fn))
              for (c, fn, _), f in zip(aggs, fields)]
    if plan == "single":
        merge = grouped(direct, explode=False)
        return apply_in_arrow(_exchange(df, by), by, lambda t: merge([t]),
                              out_schema)

    # partial columns, and their per-key merge: sum of sums, min of mins,
    # count -> sum, mean -> psum / pcnt
    partial_outs, final_outs = [], []
    for (c, fn, name), f, d in zip(aggs, fields, direct):
        if fn == "mean":
            psum, pcnt = f"{name}__psum", f"{name}__pcnt"
            partial_outs += [
                (StructField(psum, DoubleType(), True),
                 lambda g, c=c: _apply_one(g.column(c), "sum")),
                (StructField(pcnt, LongType(), False),
                 lambda g, c=c: _apply_one(g.column(c), "count"))]

            def ratio(g, psum=psum, pcnt=pcnt):
                n = _apply_one(g.column(pcnt), "sum")
                return _apply_one(g.column(psum), "sum") / n if n \
                    else float("nan")
            final_outs.append((f, ratio))
        else:
            partial_outs.append(d)
            final_outs.append((f, lambda g, name=name, comb=_PARTIAL[fn]:
                               _apply_one(g.column(name), comb)))
    partial_schema = StructType(head + [f for f, _ in partial_outs])

    if plan == "dedupe":
        # union is idempotent over byte-identical geometries, so a NATIVE
        # (key, geom) hash aggregate — map-side combined in Tungsten,
        # never touching Python — collapses the duplicates before any
        # Arrow transfer; the decomposable aggfuncs become native
        # partials on the same pass. NaN is nulled first so that the
        # native aggregates (``first`` with ignorenulls) skip it as
        # pandas does.
        nat = []
        for c, fn, name in aggs:
            v = F.col(c)
            if isinstance(in_fields[c].dataType, (FloatType, DoubleType)):
                v = F.nanvl(v, F.lit(None))
            if fn == "mean":
                nat += [F.sum(v).cast("double").alias(f"{name}__psum"),
                        F.count(v).alias(f"{name}__pcnt")]
            else:   # sum, count, min, max, first
                a = (F.first(v, ignorenulls=True) if fn == "first"
                     else getattr(F, fn)(v))
                nat.append((a.cast("double") if fn == "sum" else a)
                           .alias(name))
        staged = (df.groupBy(*by, geom).agg(*nat) if nat
                  else df.select(*by, geom).distinct())
    else:
        combine = grouped(partial_outs, explode=False)

        def partial(batches):
            # map-side combine: Arrow groupby WITHIN each input batch (NaN
            # and NULL keys apart, as in Spark) — no shuffle; the only
            # shuffle of the plan is the per-key merge of the partials
            for b in batches:
                if b.num_rows == 0:
                    continue
                t = pa.Table.from_batches([b])
                rows = (t.select(by)
                        .append_column("__row__",
                                       pa.array(np.arange(b.num_rows)))
                        .group_by(by, use_threads=False)
                        .aggregate([("__row__", "list")])
                        .column("__row___list").combine_chunks())
                yield from combine(
                    [t.take(ix.values) for ix in rows]).to_batches()

        # thin scans (few parquet splits) would run the whole phase-1
        # union on a handful of tasks — fan out first (measured: a
        # 600k-box dissolve spent ~14 of 18.5 s in 4 phase-1 tasks)
        staged = _ensure_parallelism(df).mapInArrow(partial, partial_schema)
    finish = grouped(final_outs, explode=True)
    return apply_in_arrow(_exchange(staged, by), by, lambda t: finish([t]),
                          out_schema)


def total_bounds(df: DataFrame, geom: str = "geom"):
    """(minx, miny, maxx, maxy) over the whole frame (reference:
    base.py:5288) — a single native agg over the st_bounds struct."""
    r = (df.withColumn("__b__", st.bounds(geom))
           .agg(F.min("__b__.xmin").alias("minx"),
                F.min("__b__.ymin").alias("miny"),
                F.max("__b__.xmax").alias("maxx"),
                F.max("__b__.ymax").alias("maxy"))
           .collect()[0])
    return (r.minx, r.miny, r.maxx, r.maxy)
