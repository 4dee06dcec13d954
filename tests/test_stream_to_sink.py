"""Streaming → partitioned-merge-sink integration: a watermarked stream
drained with availableNow, each micro-batch upserted into the
date-partitioned parquet store via foreachBatch — the reference's daily
cron append (raw_data.py:241-269) as a streaming job."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_project_datapipeline_spark import sinks

UTC = dt.timezone.utc

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def ts(d, h):
    return dt.datetime(2024, 1, d, h, tzinfo=UTC)


def _run_stream(spark, src, ckpt, sink_path):
    stream = spark.readStream.schema(SCHEMA).parquet(src)

    def upsert(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        sinks.merge_into_partitioned(
            batch_df.withColumn("date", F.to_date("ts")),
            sink_path,
            keys=["event_id"],
            partition_col="date",
        )

    q = (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_upserts_into_partitioned_store(spark, tmp_path):
    src, ckpt, sink = (str(tmp_path / p) for p in ("src", "ckpt", "sink"))

    spark.createDataFrame(
        [(1, ts(1, 0), 10.0), (2, ts(1, 1), 20.0), (3, ts(2, 0), 30.0)], SCHEMA
    ).write.mode("append").parquet(src)
    _run_stream(spark, src, ckpt, sink)
    assert spark.read.parquet(sink).count() == 3

    # late correction for event 2 + a new day arrive; stream resumes from
    # checkpoint, upsert keeps-last per key
    spark.createDataFrame(
        [(2, ts(1, 1), 99.0), (4, ts(3, 0), 40.0)], SCHEMA
    ).write.mode("append").parquet(src)
    _run_stream(spark, src, ckpt, sink)

    out = {r["event_id"]: r["value"] for r in spark.read.parquet(sink).collect()}
    assert out == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
