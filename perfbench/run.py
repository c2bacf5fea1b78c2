"""Seeded, host-sized benchmark of whole geopandas_spark queries.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload geo_dup --seed 1 --seconds 15 --trace 0

One run:

1. set-up (``setup_s``): probe the host, generate the workload's
   GeoParquet inputs from ``--seed``, start ``local[N]`` Spark
   (N = ``$SPARK_GRAFT_CPUS`` or the core count, heap sized from
   MemAvailable), and run every timed query once, collecting its output;
2. check every collected output against a numpy reference
   (``queries.py``); a wrong answer or an exception is a failed
   execution, named in the report, and the run continues;
3. time a closed loop with one client: the queries run in turn, each
   from its operator/``st`` call through a fully drained noop sink, and
   the next starts only when the previous one has drained; the loop
   makes whole passes over the queries until ``--seconds`` have gone by
   and every query has run at least ``MIN_SAMPLES`` times;
4. with ``--trace 1`` only: a traced pass over every query (job groups,
   SQL metrics, the UDF ``perf`` profiler) and the layer microbench;
   the untimed dissolve runs, and is checked, here only; the spans go
   to ``.perfbench_out/``.

The last line of standard output is the result object; the line
before it is a detail object (host probe, input statistics, wall times,
per-query medians and samples, failures). With ``--trace 0`` the result
holds the end-to-end metrics, with ``--trace 1`` the per-layer metrics;
both are listed, with what each should move, in ``perfbench/BASELINE.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# workload -> input kind (see inputs.py); both run the same queries
WORKLOADS = {"geo_dup": "dup", "geo_unique": "unique"}
# timed executions of every query in a run, at the least
MIN_SAMPLES = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _declared(trace: int) -> set:
    """Metric names BENCHMARK.json promises for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def drain(df):
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State of one benchmark run: session, inputs, samples, failures."""

    def __init__(self, workload: str, seed: int, scratch: str, trace: bool):
        from perfbench import queries

        self.workload, self.seed, self.scratch = workload, seed, scratch
        # untimed queries only run where they are traced
        self.queries = [q for q in queries.QUERIES if q.timed or trace]
        self.attempted = 0
        self.failures = []          # (query, phase, message)
        self.samples = {}           # query -> [seconds]
        self.cpu_samples = {}       # query -> [CPU seconds]
        self.timed_s = 0.0

    def raised(self) -> set:
        """Queries whose first execution raised."""
        return {f["query"] for f in self.failures if f["phase"] == "warmup"}

    def fail(self, query, phase, msg):
        self.failures.append({"query": query, "phase": phase,
                              "error": msg[-500:]})

    # -- set-up ------------------------------------------------------------
    def setup(self):
        from perfbench import hostenv, inputs, queries

        t0 = time.perf_counter()
        self.probe_start = hostenv.probe()
        self.inputs = inputs.generate(WORKLOADS[self.workload], self.seed,
                                      os.path.join(self.scratch, "data"))
        t1 = time.perf_counter()
        self.spark, self.heap_mb = hostenv.start_session(
            ROOT, self.scratch, hostenv.cpus())
        t2 = time.perf_counter()
        from geopandas_spark.io.geoparquet import read_parquet
        p = self.inputs.paths
        self.frames = queries.Frames(
            read_parquet(self.spark, p["points"]),
            read_parquet(self.spark, p["polys"]),
            read_parquet(self.spark, p["sites"]))
        # first execution of every timed query: worker start-up, codegen
        # and caches land here; its collected output is checked below
        self.outputs = {}
        self.setup_parts = {"inputs_s": t1 - t0, "session_s": t2 - t1}
        for q in self.queries:
            if not q.timed:
                continue
            self.attempted += 1
            tq = time.perf_counter()
            try:
                self.outputs[q.name] = q.build(self.frames).toArrow()
            except Exception:
                self.fail(q.name, "warmup", traceback.format_exc())
            self.setup_parts[f"warmup.{q.name}_s"] = time.perf_counter() - tq
        t3 = time.perf_counter()
        self.setup_s = t3 - t0

    def check(self):
        for q in self.queries:
            tbl = self.outputs.pop(q.name, None)
            if tbl is None:
                continue
            try:
                err = q.check(tbl, self.inputs)
            except Exception:
                err = traceback.format_exc()
            if err:
                self.fail(q.name, "check", err)

    # -- timed closed loop -------------------------------------------------
    def timed(self, seconds: float):
        from perfbench import hostenv

        self.calib_s = hostenv.calib_s(self.spark)
        # a wrong answer is still timed; a query that raised is not
        todo = [q for q in self.queries if q.timed and q.name not in
                self.raised()]
        self.jvm = hostenv.jvm_pid(self.spark)
        with hostenv.RssSampler(self.jvm) as rss:
            # whole passes over the queries in a fixed order, until
            # ``seconds`` have gone by and there are MIN_SAMPLES passes:
            # every query gets the same number of samples, long ones too
            t_start = time.perf_counter()
            passes = 0
            while todo and (passes < MIN_SAMPLES or
                            time.perf_counter() - t_start < seconds):
                passes += 1
                for q in list(todo):
                    self.attempted += 1
                    c0 = self.cpu_s()
                    t0 = time.perf_counter()
                    try:
                        drain(q.build(self.frames))
                    except Exception:
                        self.fail(q.name, "timed", traceback.format_exc())
                        todo.remove(q)
                        continue
                    self.samples.setdefault(q.name, []).append(
                        time.perf_counter() - t0)
                    self.cpu_samples.setdefault(q.name, []).append(
                        self.cpu_s() - c0)
            self.timed_s = time.perf_counter() - t_start
        self.rss = rss
        self.probe_end = hostenv.probe()

    def cpu_s(self) -> float:
        """CPU seconds used so far by this thread (the driver side of the
        engine's calls), the JVM and its Python workers."""
        from perfbench import hostenv

        return time.thread_time() + hostenv.tree_cpu_s(self.jvm)

    def mix_rows_per_s(self, seconds: dict) -> float:
        """Input rows over time of one pass through the queries timed in
        ``seconds`` (query -> s): a client running the mix back to back."""
        rows = sum(q.rows(self.inputs) for q in self.queries
                   if q.name in seconds)
        return rows / sum(seconds.values())

    def p50(self, samples=None) -> dict:
        samples = self.samples if samples is None else samples
        return {q.name: statistics.median(samples[q.name])
                for q in self.queries if samples.get(q.name)}

    def group_sums(self, samples: dict, suffix: str) -> dict:
        """q.<group>.<suffix> -> sum of the group's per-query medians:
        one pass through the group."""
        p50, out = self.p50(samples), {}
        for q in self.queries:
            if q.name in p50:
                k = f"q.{q.group}.{suffix}"
                out[k] = out.get(k, 0.0) + p50[q.name]
        return out

    def end_to_end(self) -> dict:
        """The bounded metrics. Query cost is in CPU seconds: wall times
        follow how much CPU other guests take from this one, which here
        moved them by more than any bound allows (see BASELINE.md)."""
        m = {"setup_s": (self.setup_s, "s"),
             "peak_rss_mb": (self.rss.peak_total / 1024.0, "MB")}
        for k, v in self.group_sums(self.cpu_samples, "cpu_s").items():
            m[k] = (v, "s")
        return m

    def wall(self) -> dict:
        """Wall-time figures of the timed phase, reported without a bound."""
        out = {k: {"value": v, "unit": "s"}
               for k, v in self.group_sums(self.samples, "pass_s").items()}
        if self.samples:
            out["rows_per_s"] = {"value": self.mix_rows_per_s(self.p50()),
                                 "unit": "rows/s"}
        return out

    def detail(self) -> dict:
        from perfbench import hostenv

        return {
            "workload": self.workload, "seed": self.seed,
            "host": {"start": self.probe_start,
                     "end": self.probe_end,
                     "driver_heap_mb": self.heap_mb,
                     "peak_rss_mb": {"jvm": self.rss.peak_jvm / 1024.0,
                                     "python": self.rss.peak_py / 1024.0},
                     "calib_s": getattr(self, "calib_s", None),
                     "steal_frac": hostenv.steal_frac(
                         self.probe_start["cpu_ticks"],
                         self.probe_end["cpu_ticks"])},
            "inputs": self.inputs.stats,
            "setup": self.setup_parts,
            "timed_s": self.timed_s,
            "wall": self.wall(),
            "query_p50_s": {k: {"value": v, "unit": "s",
                                "samples": len(self.samples[k])}
                            for k, v in self.p50().items()},
            "query_cpu_p50_s": self.p50(self.cpu_samples),
            "failed_frac": len(self.failures) / max(self.attempted, 1),
            "failures": self.failures,
        }


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import geopandas_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import hostenv

    scratch = os.path.join(ROOT, ".perfbench_out",
                           f"{args.workload}-{args.seed}")
    shutil.rmtree(scratch, ignore_errors=True)
    run = Run(args.workload, args.seed, scratch, bool(args.trace))
    try:
        run.setup()
        run.check()
        run.timed(args.seconds)
        if args.trace:
            from perfbench import layers
            metrics = layers.traced(run)
        else:
            metrics = run.end_to_end()
    finally:
        if getattr(run, "spark", None) is not None:
            hostenv.stop_session(run.spark)
        shutil.rmtree(os.path.join(scratch, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(scratch, "spark-local"), ignore_errors=True)
    print(json.dumps(run.detail(), default=str))
    missing = _declared(args.trace) - set(metrics)
    if missing and not run.failures:
        raise RuntimeError(f"metrics declared in BENCHMARK.json but not "
                           f"measured: {sorted(missing)}")
    failed = len(run.failures)
    print(json.dumps({
        "correct": failed == 0, "attempted": run.attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
