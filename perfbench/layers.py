"""Traced pass: split each query's time and bytes across the engine's layers.

Everything here is measured from outside the engine:

- spans are recorded by the benchmark around its own calls (one
  ``query`` span with a ``build`` child -- the operator/``st`` call,
  including any eager jobs it runs -- and a ``drain`` child), each under
  its own Spark job group;
- Spark's status stores give, per job group, the stages (tasks, shuffle
  bytes and write time) and the SQL plan nodes with their metrics
  (parquet scan, exchanges, the Python nodes' Arrow hop);
- the UDF ``perf`` profiler (``spark.sql.pyspark.udf.profiler``) gives
  the workers' self time, grouped by the source file it was spent in;
- the layer microbench calls ``geom.wkb`` and ``geom.algos`` directly on
  one Arrow-batch-sized slice of the workload's own points.

Spans stay in memory and are written once, at the end of the pass.
"""

from __future__ import annotations

import glob
import json
import os
import pstats
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from perfbench import queries

# metric names of the Python nodes (PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
BATCH_ROWS = 10_000        # spark.sql.execution.arrow.maxRecordsPerBatch

_UNITS = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30,
          "TiB": 2 ** 40, "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse a formatted SQL metric ('1,234', '3.2 MiB', '840 ms', a
    'total (min, med, max ...)' block, or an average's '(min, med, max
    ...)' line, read as its median) to bytes, seconds or a count."""
    if "\n" in text:
        text = text.split("\n")[1]
    if text.startswith("("):
        text = text[1:].split(", ")[1]
    parts = text.split(" (")[0].split()
    v = float(parts[0].replace(",", ""))
    return v * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else v


def _scala_seq(seq):
    return [seq.apply(i) for i in range(seq.size())]


class Tracer:
    """In-memory spans; each leaf span runs under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans = []

    @contextmanager
    def span(self, name, query, parent=None, group=None):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "query": query, "parent": parent,
               "group": group}
        self.spans.append(rec)
        if group:
            self.sc.setJobGroup(group, f"{query} {name}")
        rec["start"] = time.time()
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def _attribute(spark, spans):
    """Attach jobs, stage totals and SQL node metrics to each leaf span."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:        # Spark-internal; without it, give the listener a second
        jsc.listenerBus().waitUntilEmpty()
    except Py4JError:
        time.sleep(1.0)
    store = jsc.statusStore()
    sql = spark._jsparkSession.sharedState().statusStore()
    span_of_job, seen_stages = {}, set()
    for s in spans:
        if not s["group"]:
            continue
        jobs = sorted(sc.statusTracker().getJobIdsForGroup(s["group"]))
        s["jobs"] = jobs
        st = defaultdict(float)
        for j in jobs:
            span_of_job[j] = s
            for sid in _scala_seq(store.job(j).stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JError:   # never submitted (skipped)
                    continue
                if str(sd.status()) != "COMPLETE":
                    continue
                st["tasks"] += sd.numTasks()
                st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                st["shuffle_records"] += sd.shuffleWriteRecords()
                st["shuffle_write_s"] += sd.shuffleWriteTime() / 1e9
        s["stages"] = dict(st)
        s["nodes"] = []
    for e in _scala_seq(sql.executionsList()):
        jobs = [int(j) for j in _scala_seq(e.jobs().keys().toSeq())]
        owner = next((span_of_job[j] for j in jobs if j in span_of_job),
                     None)
        if owner is None:
            continue
        values = sql.executionMetrics(e.executionId())
        graph = sql.planGraph(e.executionId())
        parent_of = {}
        for edge in _scala_seq(graph.edges()):
            parent_of[edge.fromId()] = edge.toId()
        nodes = {}
        for nd in _scala_seq(graph.allNodes()):
            m = {}
            for mm in _scala_seq(nd.metrics()):
                v = values.get(mm.accumulatorId())
                if v.isDefined():
                    m[mm.name()] = metric_value(v.get())
            nodes[nd.id()] = {"id": nd.id(), "name": nd.name().strip(),
                              "metrics": m,
                              "execution": e.executionId()}
        for nid, nd in nodes.items():
            nd["parent"] = parent_of.get(nid)
            pn = nodes.get(nd["parent"])
            nd["parent_name"] = pn["name"] if pn else None
            nd["parent_rows"] = (pn["metrics"].get("number of output rows")
                                 if pn else None)
        owner["nodes"].extend(nodes.values())


# -- UDF profiler -------------------------------------------------------------

def engine_files() -> dict:
    """Source-file basename -> layer for the engine's own modules (the
    profiler records basenames only)."""
    import geopandas_spark
    pkg = os.path.dirname(geopandas_spark.__file__)
    layer = {}
    for sub, name in (("geom", "kernel"), ("operators", "kernel"),
                      ("pipeline", "kernel"), ("functions", "glue"),
                      ("io", "glue"), ("", "glue")):
        for f in sorted(glob.glob(os.path.join(pkg, sub, "*.py"))):
            layer.setdefault(os.path.basename(f), name)
    layer["wkb.py"] = layer["wkt.py"] = "codec"
    return layer


def udf_split(stats: pstats.Stats, files: dict) -> dict:
    """UDF self time by layer (glue / codec / kernel), seconds.

    Time spent in code outside the engine (builtins, numpy, pandas,
    pyarrow) belongs to the engine layer that called it: it is split
    over the callers by their share of the cumulative time, walking up
    until an engine frame is reached. Time no engine frame called is
    glue (the worker's own conversion code)."""
    table = stats.stats
    memo = {}

    def owner(func, depth=0):
        if func in memo:
            return memo[func]
        g = files.get(func[0])
        if g is not None:
            memo[func] = {g: 1.0}
            return memo[func]
        callers = table.get(func, (0, 0, 0, 0, {}))[4]
        total = sum(c[3] for c in callers.values())
        if not callers or total <= 0 or depth > 30:
            memo[func] = {"glue": 1.0}
            return memo[func]
        memo[func] = {"glue": 1.0}          # cycle guard
        dist = defaultdict(float)
        for cf, cs in callers.items():
            for k, share in owner(cf, depth + 1).items():
                dist[k] += share * cs[3] / total
        memo[func] = dict(dist)
        return memo[func]

    out = {"glue": 0.0, "codec": 0.0, "kernel": 0.0}
    for func, (_cc, _nc, tt, _ct, _callers) in table.items():
        for k, share in owner(func).items():
            out[k] += tt * share
    return out


def _profile_of_query(spark, dump_dir, files) -> dict:
    spark.profile.dump(dump_dir, type="perf")
    spark.profile.clear(type="perf")
    total = {"glue": 0.0, "codec": 0.0, "kernel": 0.0}
    for f in glob.glob(os.path.join(dump_dir, "*.pstats")):
        for k, v in udf_split(pstats.Stats(f), files).items():
            total[k] += v
    return total


# -- layer microbench ---------------------------------------------------------

def _median_us(fn, n, reps=5):
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) / n * 1e6


def microbench(inp) -> dict:
    """wkb decode/encode and the buffer kernel on one Arrow batch of the
    workload's points, called directly (no Spark)."""
    from geopandas_spark.geom import algos, wkb
    from perfbench.inputs import point_wkb

    n = min(BATCH_ROWS, len(inp.px))
    vals = point_wkb(inp.px[:n], inp.py[:n]).to_pylist()
    ga = wkb.decode(vals)
    return {
        "wkb.decode_us_per_geom": _median_us(lambda: wkb.decode(vals), n),
        "wkb.encode_us_per_geom": _median_us(lambda: wkb.encode(ga), n),
        "kernel.us_per_geom": _median_us(
            lambda: algos.buffer(ga, queries.BUFFER_R,
                                 quad_segs=queries.QUAD_SEGS), n),
    }


# -- the traced pass ----------------------------------------------------------

def _py_node(nd) -> bool:
    return PY_SENT in nd["metrics"]


def _reads_join(nd, nodes) -> bool:
    """Is the node's input a join, looking through projections?"""
    kids = {}
    for c in nodes:
        if c["execution"] == nd["execution"]:
            kids.setdefault(c["parent"], []).append(c)
    frontier = kids.get(nd["id"], [])
    while frontier:
        c = frontier.pop()
        if c["name"].endswith("Join") or c["name"] == "CartesianProduct":
            return True
        if c["name"] == "Project":
            frontier.extend(kids.get(c["id"], []))
    return False


def traced(run) -> dict:
    """One traced execution of every query; returns the per-layer metrics
    and writes the spans file and the layer table next to the run.

    An untimed query (dissolve) has no warm-up: this is its first
    execution, so its build span holds its eager probe jobs, and its
    output is collected and checked here.

    ``trace.overhead_frac`` sets that single traced execution of each
    query against the untraced medians, so it carries the run-to-run
    noise of one sample and can come out below 0."""
    from perfbench.run import drain

    spark = run.spark
    todo = [q for q in run.queries if q.name not in run.raised()]
    tracer = Tracer(spark)
    files = engine_files()
    prof_root = os.path.join(run.scratch, "profile")
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    traced_s = {}
    udf = {}
    try:
        for q in todo:
            run.attempted += 1
            try:
                with tracer.span("query", q.name) as qs:
                    with tracer.span("build", q.name, qs,
                                     f"perfbench.{q.name}.build"):
                        df = q.build(run.frames)
                    with tracer.span("drain", q.name, qs,
                                     f"perfbench.{q.name}.drain"):
                        if q.timed:
                            drain(df)
                        else:
                            run.outputs[q.name] = df.toArrow()
            except Exception:
                run.fail(q.name, "traced", traceback.format_exc())
                continue
            traced_s[q.name] = (tracer.spans[qs]["end"] -
                                tracer.spans[qs]["start"])
            udf[q.name] = _profile_of_query(
                spark, os.path.join(prof_root, q.name), files)
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    run.check()
    _attribute(spark, tracer.spans)
    untraced = {k: v for k, v in run.p50().items() if k in traced_s}
    traced_s = {k: traced_s[k] for k in untraced}

    by_query = summarize(tracer.spans, udf)
    total = defaultdict(float)
    for v in by_query.values():
        for k, x in v.items():
            total[k] += x
    grid = by_query.get("sjoin_grid", {})
    m = {
        "operators.build_s": (sum(v["build_s"] for k, v in by_query.items()
                                  if _is_operator(k)), "s"),
        "operators.build_jobs": (sum(v["build_jobs"]
                                     for k, v in by_query.items()
                                     if _is_operator(k)), "count"),
        "scan.bytes": (total["scan_bytes"], "B"),
        "scan.s": (total["scan_s"], "s"),
        "shuffle.bytes": (total["shuffle_bytes"], "B"),
        "shuffle.write_s": (total["shuffle_write_s"], "s"),
        "py_hop.bytes_sent": (total["py_sent"], "B"),
        "py_hop.bytes_returned": (total["py_returned"], "B"),
        "py_hop.run_s": (total["py_run_s"], "s"),
        "py_hop.nodes": (total["py_nodes"], "count"),
        "py_hop.sent_per_scan_byte": (
            total["py_sent"] / max(total["scan_bytes"], 1.0), "ratio"),
        "udf.glue_s": (total["udf_glue_s"], "s"),
        "udf.codec_s": (total["udf_codec_s"], "s"),
        "udf.kernel_s": (total["udf_kernel_s"], "s"),
        "sjoin.refine_ratio": (grid["refine_out"] / grid["refine_in"]
                               if grid.get("refine_in") else 0.0, "ratio"),
        "py.peak_rss_mb": (run.rss.peak_py / 1024.0, "MB"),
        "jvm.peak_rss_mb": (run.rss.peak_jvm / 1024.0, "MB"),
        "trace.overhead_frac": (1.0 - run.mix_rows_per_s(traced_s) /
                                run.mix_rows_per_s(untraced), "ratio"),
        "host.calib_s": (run.calib_s, "s"),
    }
    for k, v in microbench(run.inputs).items():
        m[k] = (v, "us")

    out = os.path.join(run.scratch, "spans.json")
    with open(out, "w") as f:
        json.dump({"workload": run.workload, "seed": run.seed,
                   "spans": tracer.spans, "udf_self_s": udf,
                   "by_query": by_query}, f, default=str)
    with open(os.path.join(run.scratch, "layers.md"), "w") as f:
        f.write(layer_table(run.workload, by_query))
    run.trace_files = [out]
    return m


def _is_operator(name):
    return next(q.operator for q in queries.QUERIES if q.name == name)


FIELDS = ("build_s", "build_jobs", "drain_s", "tasks", "scan_rows",
          "scan_bytes", "scan_s", "shuffle_records",
          "shuffle_bytes", "shuffle_write_s", "py_nodes", "py_rows", "py_sent",
          "py_returned", "py_run_s", "udf_glue_s",
          "udf_codec_s", "udf_kernel_s", "refine_in", "refine_out")


def summarize(spans, udf) -> dict:
    """Per query: build time/jobs and the layer counters of its spans."""
    out = {}
    for s in spans:
        if s["name"] not in ("build", "drain"):
            continue
        d = out.setdefault(s["query"], defaultdict(float))
        if s["name"] == "build":
            d["build_s"] += s["end"] - s["start"]
            d["build_jobs"] += len(s["jobs"])
        else:
            d["drain_s"] += s["end"] - s["start"]
        st = s["stages"]
        d["tasks"] += st.get("tasks", 0)
        d["shuffle_bytes"] += st.get("shuffle_write_bytes", 0)
        d["shuffle_records"] += st.get("shuffle_records", 0)
        d["shuffle_write_s"] += st.get("shuffle_write_s", 0)
        for nd in s["nodes"]:
            mt = nd["metrics"]
            if nd["name"].startswith("Scan parquet"):
                d["scan_bytes"] += mt.get("size of files read", 0)
                d["scan_rows"] += mt.get("number of output rows", 0)
                d["scan_s"] += mt.get("scan time", 0)
            if _py_node(nd):
                d["py_nodes"] += 1
                d["py_rows"] += mt.get("number of output rows", 0)
                d["py_sent"] += mt.get(PY_SENT, 0)
                d["py_returned"] += mt.get(PY_RETURNED, 0)
                d["py_run_s"] += mt.get(PY_RUN, 0)
                # the grid join's refine: a Python predicate evaluated on
                # the rows of a join, then filtered
                if (nd["parent_name"] == "Filter"
                        and nd["parent_rows"] is not None
                        and _reads_join(nd, s["nodes"])):
                    d["refine_in"] += mt.get("number of output rows", 0)
                    d["refine_out"] += nd["parent_rows"]
    for q, d in out.items():
        for k, v in udf.get(q, {}).items():
            d[f"udf_{k}_s"] += v
    return {q: {k: d[k] for k in FIELDS} for q, d in out.items()}


def layer_table(workload: str, by_query: dict) -> str:
    """Markdown: one row per query, layer -> rows, bytes and seconds."""
    head = ("| query | build s (jobs) | drain s | scan rows / bytes / s | "
            "shuffle records / bytes / write s | "
            "py hop nodes / rows / sent B / returned B / run s | "
            "udf glue / codec / kernel s | refine out / in |\n")
    lines = [f"### {workload}\n\n", head, "|" + "---|" * 8 + "\n"]
    for q, d in by_query.items():
        g = d.get
        lines.append(
            f"| {q} | {g('build_s', 0):.3f} ({int(g('build_jobs', 0))}) | "
            f"{g('drain_s', 0):.3f} | "
            f"{int(g('scan_rows', 0))} / {int(g('scan_bytes', 0))} / "
            f"{g('scan_s', 0):.3f} | "
            f"{int(g('shuffle_records', 0))} / {int(g('shuffle_bytes', 0))}"
            f" / {g('shuffle_write_s', 0):.3f} | "
            f"{int(g('py_nodes', 0))} / {int(g('py_rows', 0))} / "
            f"{int(g('py_sent', 0))} / {int(g('py_returned', 0))} / "
            f"{g('py_run_s', 0):.3f} | "
            f"{g('udf_glue_s', 0):.3f} / {g('udf_codec_s', 0):.3f} / "
            f"{g('udf_kernel_s', 0):.3f} | "
            f"{int(g('refine_out', 0))} / {int(g('refine_in', 0))} |\n")
    return "".join(lines)
