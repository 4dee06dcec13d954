"""SparkSession factory.

The reference pipeline is eager single-threaded pandas; our engine is a lazy
Catalyst-optimized plan (SURVEY.md §3.4). Session-level invariants that the
reference manages by hand are pinned here once:

- ``spark.sql.session.timeZone=UTC`` — the reference coerces every timestamp
  to UTC at every boundary (reference raw_data.py:46,67,129-131,144,199,247);
  with the session TZ pinned, `hour()`/`weekday()`-derived features match.
- AQE on — runtime shuffle-partition coalescing + skew-join splitting; this is
  what makes the same plan survive sf0.001 → 100 TB without retuning.
- Arrow on — vectorized pandas interchange for the few pandas_udf extension ops.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "big_data_project_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is a test harness; the config choices (AQE, broadcast
    threshold, partition sizing) are made for a real multi-executor cluster
    and merely *also work* on local[N].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its default (true). The r5
        # experiment with false (honor the 64 MB advisory size, often
        # recommended for clusters) measured SLOWER here in a clean
        # both-orders A/B on a quiet host: q121 2.9->5.2 s, q132
        # 1.6->4.3 s, q87 1.8->3.2 s, q126 1.4->2.7 s solo at sf0.1 —
        # with 32 local threads and kilobyte partitions, extra tasks
        # are nearly free while coalescing to 1-2 tasks serializes the
        # CPU-heavy collapsed stages (wedge joins, percentile sorts).
        # On a real multi-executor cluster the trade can flip;
        # re-measure there before changing it (NOTES_r5.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # dims like region/nation/supplier stay broadcast even at 100 TB fact scale
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: one JVM; give it room so sf0.1 bench never spills to GC death
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark call-site capture (r13, guide §1.2 per-task work —
        # here per-DRIVER work): with dataFrameDebugging on (the
        # default), EVERY Python DataFrame/Column API call walks the
        # Python stack and ships the call site to the JVM for error
        # enrichment — measured 5–16 ms per F.col / 230 ms per
        # groupBy().agg() on this host vs 1.4 / 72 ms with it off
        # (same process, toggled back and forth). Across the 237-query
        # registry one full construction pass is ~240 s with capture
        # on — pure driver-side fixed cost repeated per run. The trade
        # is error messages without user-code line numbers; operators
        # raise their own typed errors, so the loss is small.
        # Env-overridable for debugging sessions. Caveat: PySpark reads
        # this conf ONCE per process (pyspark.errors.utils caches
        # is_debugging_enabled() at the first DataFrame API call). A
        # session that already exists and was used before get_spark()
        # gets the conf value but keeps its cached capture setting, and
        # the env var cannot re-toggle it mid-process.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("SPARK_GRAFT_DF_DEBUGGING", "false"),
        )
        # Scan-split sizing (guide §6): Spark sizes file splits as
        # min(maxPartitionBytes, max(openCostInBytes, bytes/minPartitionNum)).
        # r12 floored openCost at 64 KB so single-file scans split to
        # the core count — but a parquet file splits only at row-group
        # granularity, so on the single-row-group driver inputs every
        # extra split is an EMPTY task: pure scheduler tax, measured
        # ~30 s across the 237-query bench in a same-window A/B
        # (64 KB vs 4 MB, fan-out off: 440.5 s -> 410.2 s). Real scan
        # parallelism for unsplittable inputs comes from the opt-in
        # fan-out repartition (tables._fan_out_unsplittable), which
        # needs no split help. Back at the stock 4 MB default; the env
        # knob stays for layouts where splits are real (multi-row-group
        # derived datasets, e.g. tools/make_scale_smoke*).
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get(
                "SPARK_GRAFT_OPEN_COST_BYTES", str(4 * 1024 * 1024)
            ),
        )
        # Driver-side partition listing. A scan of more than `threshold`
        # (default 32) directories lists them in a "Listing leaf files"
        # Spark job. On local[N], which every get_spark caller in this
        # repository runs, that job runs on the driver's own threads and
        # only adds scheduling.
        # Measured on local[4] (4-core x86 host, local disk): a read of a
        # 60-partition store took 2 jobs and 0.50-1.35 s with the listing
        # job, 1 job (schema inference) and 0.12-0.21 s listed on the
        # driver; of a 2000-partition store 8.8-10.0 s against 0.39-0.50 s.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
