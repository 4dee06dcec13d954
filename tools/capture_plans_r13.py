"""Capture the r13 before/after formatted plans (plans/r13/).

Explain-only (no execution): the judge checks plan claims against these
files. Three families of evidence:

1. Fan-out policy (tables.load_table): the r12 always-on policy is
   reachable via SPARK_GRAFT_FANOUT=all, so the before/after pair for a
   de-fanned query (q204) is captured from the SAME tree by flipping
   the env var; an opted-in winner (q215) keeps the RoundRobin exchange
   in both. (openCostInBytes changes split counts at runtime, not plan
   shape — explain carries no split count; see OPTIMIZATION_r13.md.)

2. Graph edge prep (operators/graph.pagerank): before = the r12
   distinct -> deg-aggregate -> join -> sort chain (inlined verbatim
   below, from commit 71220e5^'s graph.py), after = the r13 single
   chain with the window out-degree. Captured over q87's exact edge
   build so the pair's ONLY diff is the prep shape.

3. Loop visibility: pagerank with checkpoint_every=0 unrolls the three
   sweeps in one plan (the checkpointed default truncates to a
   LogicalRDD leaf stub), so the per-sweep join/aggregate shape and the
   single edge exchange are inspectable on the final tree.

Usage: python tools/capture_plans_r13.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F, Window  # noqa: E402

OUT = "plans/r13"


def fmt(df) -> str:
    from big_data_project_datapipeline_spark.session import get_spark

    spark = get_spark()
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def write(name: str, df) -> None:
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, name), "w") as fh:
        fh.write(fmt(df))
    print("wrote", os.path.join(OUT, name))


def main() -> None:
    import __spark_entry__ as E
    from big_data_project_datapipeline_spark.session import get_spark
    from big_data_project_datapipeline_spark.tables import load_table

    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    get_spark(app_name="capture_plans_r13")
    qs = E.queries()

    prev_fanout = os.environ.get("SPARK_GRAFT_FANOUT")
    try:
        # 1a. de-fanned query: before = r12 always-on fan-out, after = r13
        os.environ["SPARK_GRAFT_FANOUT"] = "all"
        write("q204_column_profile_before.txt", qs["q204_column_profile"](
            get_spark(), sf))
        os.environ["SPARK_GRAFT_FANOUT"] = "auto"
        write("q204_column_profile_after.txt", qs["q204_column_profile"](
            get_spark(), sf))

        # 1b. opted-in winner: RoundRobin kept in both policies
        os.environ["SPARK_GRAFT_FANOUT"] = "all"
        write("q215_logistic_irls_before.txt", qs["q215_logistic_irls"](
            get_spark(), sf))
        os.environ["SPARK_GRAFT_FANOUT"] = "auto"
        write("q215_logistic_irls_after.txt", qs["q215_logistic_irls"](
            get_spark(), sf))
    finally:
        if prev_fanout is None:
            os.environ.pop("SPARK_GRAFT_FANOUT", None)
        else:
            os.environ["SPARK_GRAFT_FANOUT"] = prev_fanout

    # 2. q87's edge build, prep-shape A/B on one tree
    spark = get_spark()
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    ed = (
        o.select("o_orderkey", "o_custkey")
        .join(
            li.select("l_orderkey", "l_partkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        )
    )
    sym = ed.union(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # BEFORE (r12 graph.py verbatim): distinct + deg aggregate + join
    e0 = sym.select("src", "dst").repartition(F.col("src")).distinct()
    deg = e0.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    before = e0.join(deg, "src").sortWithinPartitions("src")
    write("q87_edge_prep_before.txt", before)
    # AFTER (r13): single chain, window out-degree
    after = (
        sym.select("src", "dst")
        .repartition(F.col("src"))
        .distinct()
        .withColumn(
            "deg", F.count(F.lit(1)).over(Window.partitionBy("src"))
        )
        .sortWithinPartitions("src")
    )
    write("q87_edge_prep_after.txt", after)

    # 3. unrolled pagerank on the final tree: loop body visible
    from big_data_project_datapipeline_spark.operators.graph import pagerank

    write(
        "q87_pagerank_unrolled_after.txt",
        pagerank(sym, n_iter=3, checkpoint_every=0),
    )


if __name__ == "__main__":
    main()
