"""dissolve / total_bounds: geometric aggregation (SURVEY.md §2.5).

Reference: GeoDataFrame.dissolve (geopandas/geodataframe.py:2172-2327) =
groupby over attribute columns + per-group geometric union.

Spark cannot mix a GROUPED_AGG pandas UDF with native aggregates in one
``agg``, so dissolve runs as a single ``applyInPandas`` per group: one
shuffle, geometry union + attribute aggs in the same pass (same cost shape
as the reference's groupby-apply closure, geodataframe.py:2310-2316).

Scale note: ``two_phase=True`` pre-aggregates per (key, input partition)
before the final per-key pass — union is associative/commutative, so this
is the map-side combine that bounds any single task's group size."""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BinaryType, DoubleType, LongType, StructField,
                               StructType)

from geopandas_spark.functions import st
from geopandas_spark.geom import algos, wkb

_PARTIAL = {"sum": "sum", "min": "min", "max": "max", "count": "sum",
            "first": "first"}
# named aggs that can't split into associative partials (run single-phase)
_HOLISTIC = {"median", "std", "var", "nunique"}

# duplication-probe memo keyed by (plan semanticHash, by, geom): the probe
# result is a perf-only plan choice, so a (rare) hash collision costs
# speed, never correctness
_DUP_PROBE_CACHE: dict = {}


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


_PHASE_PROBE_CACHE: dict = {}


def _probe_phase1_gain(df: DataFrame, by, geom: str, nparts: int) -> bool:
    """Sampled bbox-overlap density → should the two-phase combine run?

    Phase-1's per-(partition, key) union only pays for itself when it
    actually MERGES geometry; on sparse inputs the partials are as big
    as the input and phase 2 redoes the entire union — the combine is a
    pure second sweep (measured 5.5 s vs 4.0 s single-phase on the
    600k-box stress). Single-phase is memory-safe exactly in that
    regime: no reduction means the phase-2 task holds the same bytes
    either way. Estimate: bbox-overlap pairs in a ≤10k-row sample give
    the global per-row partner count; scaled to one phase-1 group
    (n / (partitions × keys) rows drawn ~randomly) it must reach ~0.5
    partners per row for the combine to shrink anything. Estimation
    error only ever costs speed, never correctness or memory."""
    import numpy as np

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
                .collect())
        bbs = np.array([[r["b"][j] for j in range(4)] for r in samp
                        if r["b"] is not None and r["b"][0] is not None])
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


def _apply_one(s: pd.Series, fn):
    if callable(fn):
        return float(fn(s))
    if fn == "count":
        return int(s.count())
    if fn == "nunique":
        return int(s.nunique())
    if fn in ("sum", "mean", "median", "std", "var"):
        return float(getattr(s, fn)())
    if fn == "min":
        return s.min()
    if fn == "max":
        return s.max()
    if fn == "first":
        return s.iloc[0]
    raise ValueError(f"unsupported aggfunc {fn!r}")


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
    mapInPandas combine) before the final per-key merge, so one hot key
    never concentrates its whole group in a single task's memory — the
    scale-safe plan. Default ``None`` = auto: two-phase whenever the input
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
    # pandas ops below are opaque to Catalyst, so without this every
    # input column — however wide the frame — is shuffled in the
    # exchange and serialized through Arrow, only to be dropped by the
    # output schema (guide §2.3 "project before the exchange", §4.1
    # "pass only the columns the function needs").
    need = list(dict.fromkeys([*by, geom, *(c for c, _, _ in aggs)]))
    if set(need) != {f.name for f in df.schema.fields}:
        df = df.select(*need)
    if two_phase is None:
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:
            nparts = 2
        two_phase = nparts > 1
        if two_phase:
            # dup probe FIRST: a sparse-but-duplicate-heavy input (the
            # 100x duplicated-dim shape) has few overlap partners per
            # phase-1 group, but its winning plan — the native
            # (key, geom) pre-dedup — lives on the two-phase path and
            # must not be probed away
            dup_first = False
            if not holistic:
                try:
                    dck = (df.semanticHash(), tuple(by), geom)
                except Exception:
                    dck = None
                if dck is not None and dck in _DUP_PROBE_CACHE:
                    dup_first = _DUP_PROBE_CACHE[dck]
                else:
                    dup_first = _probe_duplication(df, by, geom)
                    if dck is not None:
                        if len(_DUP_PROBE_CACHE) > 256:
                            _DUP_PROBE_CACHE.clear()
                        _DUP_PROBE_CACHE[dck] = dup_first
            if not dup_first:
                # overlap probe (memoized — perf-only): single-phase
                # when the phase-1 combine cannot reduce
                try:
                    ck = (df.semanticHash(), tuple(by), geom, "p1")
                except Exception:
                    ck = None
                if ck is not None and ck in _PHASE_PROBE_CACHE:
                    two_phase = _PHASE_PROBE_CACHE[ck]
                else:
                    two_phase = _probe_phase1_gain(df, by, geom, nparts)
                    if ck is not None:
                        if len(_PHASE_PROBE_CACHE) > 256:
                            _PHASE_PROBE_CACHE.clear()
                        _PHASE_PROBE_CACHE[ck] = two_phase
    if holistic:
        two_phase = False

    in_fields = {f.name: f for f in df.schema.fields}
    out_schema = StructType(
        [in_fields[k] for k in by] +
        [StructField(geom, BinaryType(), True)] +
        [_agg_out_field(in_fields[c], fn, name) for c, fn, name in aggs])

    def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ga = wkb.decode(pdf[geom].tolist())
        u = wkb.encode(algos.union_all(ga, method=method))[0]
        row = {k: [v] for k, v in zip(by, key)}
        row[geom] = [u]
        for c, fn, name in aggs:
            row[name] = [_apply_one(pdf[c], fn)]
        return pd.DataFrame(row)

    if not two_phase:
        # same wide key-hash pre-partitioning as phase 2: with ~#cores
        # keys, default-shuffle hash collisions serialize 2-3 heavy
        # per-key unions on one task; repartition on the keys satisfies
        # applyInPandas' required distribution, so no second exchange
        try:
            cores = df.sparkSession.sparkContext.defaultParallelism
            df = df.repartition(max(4 * cores, 64), *by)
        except Exception:
            pass
        return df.groupBy(*by).applyInPandas(merge, schema=out_schema)

    # per-key merge of partial rows (phase 2 of the two-phase plan, and
    # the only Python stage of the dedupe plan): combiner semantics —
    # sum of sums, min of mins, count -> sum, mean -> psum/pcnt
    def finish(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        ga = wkb.decode(pdf[geom].tolist())
        parts, parent, _ = algos.get_parts(ga)
        u = wkb.encode(algos.union_all(parts, method=method))[0]
        row = {k: [v] for k, v in zip(by, key)}
        row[geom] = [u]
        for c, fn, name in aggs:
            if fn == "mean":
                cnt = pdf[f"{name}__pcnt"].sum()
                row[name] = [float(pdf[f"{name}__psum"].sum()) / cnt
                             if cnt else float("nan")]
                continue
            s = pdf[name]
            comb = _PARTIAL[fn]
            row[name] = [s.sum() if comb == "sum" else s.min()
                         if comb == "min" else s.max() if comb == "max"
                         else s.iloc[0]]
        return pd.DataFrame(row)

    # Duplicate-heavy inputs (e.g. point dissolve where many rows share a
    # location): union is idempotent over byte-identical geometries, so a
    # NATIVE (key, geom) hash aggregate — map-side combined in Tungsten,
    # never touching Python — collapses the data before any Arrow
    # transfer, and only the distinct rows reach the per-key merge. The
    # decomposable aggfuncs become native partials on the same pass. One
    # cheap probe gates it: a single no-shuffle agg job comparing total
    # vs approx-distinct rows (same pattern as sjoin's stats probe);
    # below 4x duplication the extra shuffle of full geometry bytes buys
    # nothing and the partition-local phase-1 combine wins.
    if not holistic:
        try:
            ck = (df.semanticHash(), tuple(by), geom)
        except Exception:
            ck = None
        if ck is not None and ck in _DUP_PROBE_CACHE:
            dup_heavy = _DUP_PROBE_CACHE[ck]
        else:
            dup_heavy = _probe_duplication(df, by, geom)
            if ck is not None:
                if len(_DUP_PROBE_CACHE) > 256:
                    _DUP_PROBE_CACHE.clear()
                _DUP_PROBE_CACHE[ck] = dup_heavy
        if dup_heavy:
            nat = []
            for c, fn, name in aggs:
                if fn == "mean":
                    nat += [F.sum(c).cast("double").alias(f"{name}__psum"),
                            F.count(c).alias(f"{name}__pcnt")]
                elif fn == "sum":
                    nat.append(F.sum(c).cast("double").alias(name))
                elif fn == "count":
                    nat.append(F.count(c).alias(name))
                elif fn == "min":
                    nat.append(F.min(c).alias(name))
                elif fn == "max":
                    nat.append(F.max(c).alias(name))
                else:  # first
                    nat.append(F.first(c).alias(name))
            deduped = (df.groupBy(*by, geom).agg(*nat) if nat
                       else df.select(*by, geom).distinct())
            try:
                cores = df.sparkSession.sparkContext.defaultParallelism
                deduped = deduped.repartition(max(4 * cores, 64), *by)
            except Exception:
                pass
            return deduped.groupBy(*by).applyInPandas(finish, out_schema)

    # thin scans (few parquet splits) would run the whole phase-1 union
    # on a handful of tasks — fan out first (measured: the 600k-box
    # stress dissolve spent ~14 of 18.5s in 4 phase-1 tasks)
    from geopandas_spark.operators.sjoin import _ensure_parallelism
    df = _ensure_parallelism(df)

    # -- phase 1: per (key, input-partition) combine ----------------------
    partial_fields = []
    for c, fn, name in aggs:
        if fn == "mean":
            partial_fields += [
                StructField(f"{name}__psum", DoubleType(), True),
                StructField(f"{name}__pcnt", LongType(), False)]
        else:
            partial_fields.append(_agg_out_field(in_fields[c], fn, name))
    partial_schema = StructType(
        [in_fields[k] for k in by] +
        [StructField(geom, BinaryType(), True)] + partial_fields)

    def partial(batches):
        # map-side combine: pandas groupby WITHIN each input partition —
        # no shuffle; the only shuffle in the whole plan is phase 2's
        # per-key merge of the (bounded) partials
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {name: [] for name in
                    [*by, geom] + [f.name for f in partial_fields]}
            for key, grp in pdf.groupby(by, sort=False, dropna=False):
                key = key if isinstance(key, tuple) else (key,)
                ga = wkb.decode(grp[geom].tolist())
                u = wkb.encode(algos.union_all(ga, method=method))[0]
                for k, v in zip(by, key):
                    rows[k].append(v)
                rows[geom].append(u)
                for c, fn, name in aggs:
                    s = grp[c]
                    if fn == "mean":
                        rows[f"{name}__psum"].append(float(s.sum()))
                        rows[f"{name}__pcnt"].append(int(s.count()))
                    else:
                        rows[name].append(_apply_one(s, fn))
            yield pd.DataFrame(rows)

    staged = df.mapInPandas(partial, schema=partial_schema)

    # -- phase 2: merge partials per key (finish, defined above) ----------
    # pre-partition the (small) partials WIDER than the default shuffle
    # partition count: with ~#cores keys, hash collisions put 2-3 groups
    # on one task and the heavy per-key merge serializes (measured 2x on
    # the 600k-box stress dissolve, 25 keys into 32 partitions). Hash
    # partitioning on the keys satisfies applyInPandas' required
    # distribution, so no second exchange is added.
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
        staged = staged.repartition(max(4 * cores, 64), *by)
    except Exception:
        pass
    return staged.groupBy(*by).applyInPandas(finish, schema=out_schema)


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
