"""Regression pin for the benchmark's measurement protocol.

Timing ``df.count()`` lets Catalyst's ColumnPruning delete every
projected expression count() never reads — including ArrowEvalPython
nodes — so a query whose UDF work sits in pure projection times only its
scan/join skeleton. ``perfbench.run.drain`` (noop v2 sink) is the fix:
it must force EVERY output column of the plan through evaluation. These
tests make sure the protocol can never be quietly swapped back:

* an accumulator inside a pandas UDF counts exactly the rows evaluated —
  under ``drain`` it must see ALL rows;
* the same probe under ``count()`` documents the 0-row pruning (asserted
  loosely: strictly fewer rows than the data has, so a future Spark
  version that stops pruning flips this test and the protocol can be
  revisited rather than silently drifting);
* a representative headline-shaped plan (parse WKT → compute distance in
  a projection) evaluates its UDF for every row under ``drain``.
"""

import os
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import drain  # noqa: E402


@pytest.fixture(scope="module")
def acc(spark):
    return spark.sparkContext.accumulator(0)


def _probe_df(spark, acc, n=1000):
    @pandas_udf("double")
    def probed(x: pd.Series) -> pd.Series:
        acc.add(len(x))
        return x * 2.0

    return (spark.range(n)
            .select(F.col("id"), probed(F.col("id").cast("double"))
                    .alias("y")))


def test_consume_evaluates_every_row(spark, acc):
    df = _probe_df(spark, acc, 1000)
    before = acc.value
    drain(df)
    assert acc.value - before == 1000


def test_count_prunes_projected_udfs(spark, acc):
    """Documents the Spark behavior that made count() timings invalid:
    the projected pandas UDF is pruned, so the accumulator sees strictly
    fewer rows than the data has (today: zero). If a Spark upgrade makes
    this see all 1000 rows, the pruning is gone and the protocol choice
    should be re-examined — the failure is the signal."""
    df = _probe_df(spark, acc, 1000)
    before = acc.value
    df.count()
    seen = acc.value - before
    assert seen < 1000, (
        "count() no longer prunes projected pandas UDFs — re-examine "
        "perfbench.run.drain vs count()")


def test_consume_materializes_headline_shaped_plan(spark, acc):
    """A distance_pairs-shaped plan: WKT built with concat, parsed by the
    kernel, distance computed — all in pure projection (the shape that
    was silently pruned for 11 rounds). Every row must reach the UDFs."""
    from geopandas_spark import st

    @pandas_udf("double")
    def row_witness(x: pd.Series) -> pd.Series:
        acc.add(len(x))
        return x

    n = 500
    df = (spark.range(n)
          .select((F.col("id") % 97).cast("double").alias("x"),
                  (F.col("id") % 89).cast("double").alias("y")))
    wktcol = F.concat(F.lit("LINESTRING (0 0, "), F.col("x"),
                      F.lit(" "), F.col("y"), F.lit(")"))
    out = df.select(
        st.length(st.geom_from_text(wktcol)).alias("len"),
        row_witness(F.col("x")).alias("wx"))
    before = acc.value
    drain(out)
    assert acc.value - before == n
    # and the plan really contains Python evaluation nodes (the UDF
    # didn't get constant-folded away)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "EvalPython" in plan


def test_coband_residue_join_equivalence(spark):
    """r13 (guide §3.1): _cust_supp_lines phrases the co-band gate
    (c_custkey + s_suppkey) % mod == 0 as an equi-join key —
    c % m == (m - s % m) % m — so the broadcast join hashes on
    (nationkey, residue) and probes ~1/mod of the build side instead
    of filtering every same-nation pair. The two forms must produce
    the IDENTICAL pair set for mod > 1 (the oracle SFs only ever see
    mod == 1, where both degenerate to the plain nation join, so this
    pin is the standing equivalence evidence for the scaled tiers)."""
    import random

    rnd = random.Random(7)
    cust = [(i, rnd.randrange(5)) for i in range(1, 301)]
    supp = [(j, rnd.randrange(5)) for j in range(1, 120)]
    c = spark.createDataFrame(cust, ["c_custkey", "c_nationkey"])
    s = spark.createDataFrame(supp, ["s_suppkey", "s_nationkey"])
    for mod in (2, 7, 100):
        m = F.lit(mod)
        plain = c.join(s, (c.c_nationkey == s.s_nationkey) &
                       ((c.c_custkey + s.s_suppkey) % m == 0))
        resid = c.join(s, (c.c_nationkey == s.s_nationkey) &
                       ((c.c_custkey % m) == ((m - s.s_suppkey % m) % m)))
        p = sorted((r.c_custkey, r.s_suppkey) for r in plain.collect())
        q = sorted((r.c_custkey, r.s_suppkey) for r in resid.collect())
        assert p == q and len(p) > 0, mod
        # and the residue form really is extracted as equi-join keys
        plan = resid._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan \
            or "ShuffledHashJoin" in plan
        assert "% " + str(mod) in plan.replace("#", " #")
