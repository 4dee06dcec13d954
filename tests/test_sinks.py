"""Sinks: partitioned merge rewrites only touched partitions, bucketed
join plans without exchanges, CSV parity, metrics doc, content hash."""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import functions as F

from big_data_project_datapipeline_spark import sinks

UTC = dt.timezone.utc


def ts(d, h):
    return dt.datetime(2024, 1, d, h, tzinfo=UTC)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "datetime timestamp, v double"
    ).withColumn("date", F.to_date("datetime"))


def test_merge_into_partitioned_upsert(spark, tmp_path):
    path = str(tmp_path / "hist")
    day1 = _mk(spark, [(ts(1, 0), 1.0), (ts(1, 1), 2.0)])
    sinks.merge_into_partitioned(day1, path, keys=["datetime"], partition_col="date")

    # day-2 batch + a correction for day-1 01:00 — new wins
    day2 = _mk(spark, [(ts(1, 1), 99.0), (ts(2, 0), 3.0)])
    sinks.merge_into_partitioned(day2, path, keys=["datetime"], partition_col="date")

    out = {r["datetime"].isoformat(): r["v"] for r in spark.read.parquet(path).collect()}
    assert out["2024-01-01T00:00:00"] == 1.0
    assert out["2024-01-01T01:00:00"] == 99.0
    assert out["2024-01-02T00:00:00"] == 3.0

    # idempotent re-merge
    sinks.merge_into_partitioned(day2, path, keys=["datetime"], partition_col="date")
    assert spark.read.parquet(path).count() == 3


def test_merge_into_partitioned_first_write_keeps_last(spark, tmp_path):
    # the first write to a missing store still reduces same-key rows to one
    path = str(tmp_path / "hist")
    day = _mk(spark, [(ts(1, 0), 1.0), (ts(1, 0), 2.0), (ts(1, 1), 3.0)])
    sinks.merge_into_partitioned(day, path, keys=["datetime"], partition_col="date")
    assert spark.read.parquet(path).count() == 2


def test_bucketed_join_no_shuffle(spark, tmp_path):
    # managed tables land in ./spark-warehouse (gitignored); overwritten per run
    a = spark.range(1000).withColumnRenamed("id", "k").withColumn("va", F.col("k") * 2)
    b = spark.range(1000).withColumnRenamed("id", "k").withColumn("vb", F.col("k") * 3)
    sinks.write_bucketed(a, "bk_a", "k", num_buckets=8, sort_col="k")
    sinks.write_bucketed(b, "bk_b", "k", num_buckets=8, sort_col="k")
    # force SMJ (small tables would broadcast, which bypasses bucketing) to
    # show the bucketed co-location: a shuffle-free sort-merge join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 1000
        assert "hashpartitioning" not in plan, plan  # no shuffle exchange
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_csv_roundtrip_special_columns(spark, tmp_path):
    df = spark.createDataFrame(
        [(1.0, 2.0)], "`humidity_%` double, `retail_price_£_per_kWh` double"
    )
    path = str(tmp_path / "csv")
    sinks.export_csv(df, path)
    back = spark.read.option("header", True).csv(path)
    assert set(back.columns) == {"humidity_%", "retail_price_£_per_kWh"}


def test_metrics_json_read_modify_write(tmp_path):
    p = str(tmp_path / "m" / "metrics.json")
    sinks.write_metrics_json({"api_success_rate": 1.0, "total_apis": 5}, p)
    sinks.write_metrics_json({"api_success_rate": 0.8, "last_run": "2024-01-01T00:00:00Z"}, p)
    doc = json.load(open(p))
    assert doc["api_success_rate"] == 0.8  # updated
    assert doc["total_apis"] == 5          # preserved
    assert doc["last_run"].endswith("Z")


def test_content_hash_stability(spark):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    df2 = spark.createDataFrame([(2, "b"), (1, "a")], "id long, s string")  # reordered
    df3 = spark.createDataFrame([(1, "a"), (2, "c")], "id long, s string")  # changed
    h1, h2, h3 = map(sinks.content_hash, (df1, df2, df3))
    assert h1 == h2
    assert h1 != h3


def test_partition_pruning_on_read(spark, tmp_path):
    """A date filter over the partitioned sink must prune at the partition
    level (PartitionFilters in the scan, not a post-scan filter) — this is
    the reference's F1 'filter to yesterday' made O(day) at 100 TB."""
    from big_data_project_datapipeline_spark.sinks import write_partitioned

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d}", float(i)) for i in range(30)],
        "id long, d string, v double",
    )
    write_partitioned(df, path, ["d"])
    q = spark.read.parquet(path).filter(F.col("d") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(d" in plan
    # pruned scan reads exactly the one partition's rows
    assert q.count() == 10


def test_sorted_write_produces_disjoint_file_ranges(spark, tmp_path):
    """write_sorted_for_skipping: per-file min/max ranges on the sort key
    must be (near-)disjoint so footer stats can prune files; a plain
    round-robin write of the same data has overlapping ranges."""
    import glob

    import pyarrow.parquet as pq

    from big_data_project_datapipeline_spark.sinks import (
        write_sorted_for_skipping,
    )
    from big_data_project_datapipeline_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "skip")
    write_sorted_for_skipping(ev, out, ["user_id"], target_files=4)

    ranges = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "user_id"
            )
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 2
    # consecutive file ranges must not interleave: each file owns its slice
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, (hi1, lo2)
    # and the data survives intact
    assert spark.read.parquet(out).count() == ev.count()


def test_write_zorder_prunes_both_columns(spark, tmp_path):
    """Each z-ordered file must own a small hyper-rectangle: per-file
    footer ranges on BOTH interleaved columns are a fraction of the
    global span (a plain sort leaves the trailing column unprunable)."""
    import glob

    import pyarrow.parquet as pq

    from big_data_project_datapipeline_spark.sinks import write_zorder

    df = spark.range(0, 4096).selectExpr(
        "id % 64 as a", "cast(id / 64 as long) as b", "id as payload"
    )
    path = str(tmp_path / "z")
    write_zorder(df, path, ["a", "b"], target_files=16, bits=6)
    files = glob.glob(path + "/*.parquet")
    assert len(files) == 16
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins = {"a": 10**9, "b": 10**9}
        maxs = {"a": -(10**9), "b": -(10**9)}
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                name = col.path_in_schema
                if name in mins:
                    mins[name] = min(mins[name], col.statistics.min)
                    maxs[name] = max(maxs[name], col.statistics.max)
        # 16 files over a 64×64 grid → 16×16 tiles: both spans bounded
        assert maxs["a"] - mins["a"] <= 16
        assert maxs["b"] - mins["b"] <= 16


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    from big_data_project_datapipeline_spark.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # fragment: 32 tiny files
    spark.range(0, 10_000).repartition(32).write.parquet(path)
    import glob

    assert len(glob.glob(path + "/*.parquet")) == 32
    n = compact_parquet(spark, path, target_file_bytes=10**9)
    assert n == 1
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 10_000


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    """A date-partitioned store (the merge_into_partitioned layout) must
    come back date-partitioned: a flat rewrite would break the next
    dynamic-partition merge and lose pruning (round-2 ADVICE, high)."""
    import glob

    from pyspark.sql import functions as F

    from big_data_project_datapipeline_spark.sinks import compact_parquet

    path = str(tmp_path / "store")
    df = spark.range(0, 3_000).select(
        (F.col("id") % 3).cast("string").alias("date"), F.col("id").alias("v")
    )
    # fragment each partition into 8 files
    df.repartition(8).write.partitionBy("date").parquet(path)
    assert len(glob.glob(path + "/date=*/*.parquet")) == 24
    compact_parquet(spark, path, target_file_bytes=10**9)
    # layout preserved: key= dirs, no root-level data files
    assert sorted(
        d.rsplit("/", 1)[-1] for d in glob.glob(path + "/date=*")
    ) == ["date=0", "date=1", "date=2"]
    assert glob.glob(path + "/*.parquet") == []
    # each partition compacts to one file; rows and values intact
    for d in ("0", "1", "2"):
        assert len(glob.glob(path + f"/date={d}/*.parquet")) == 1
    back = spark.read.parquet(path)
    assert back.count() == 3_000
    assert back.filter(F.col("date") == "1").count() == 1_000
    # no backup/tmp left behind after a verified swap
    assert not glob.glob(str(tmp_path / "store.compact.*"))


def test_zorder_value_guards():
    import pytest

    from big_data_project_datapipeline_spark.sinks import zorder_value

    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_value(None, ["a", "b", "c", "d"], bits=16)
    with pytest.raises(ValueError, match="at least one column"):
        zorder_value(None, [], bits=16)


def test_zorder_value_empty_input_raises(spark):
    import pytest

    from big_data_project_datapipeline_spark.sinks import zorder_value

    empty = spark.range(0).selectExpr("id AS a", "id AS b")
    with pytest.raises(ValueError, match="no min/max"):
        zorder_value(empty, ["a", "b"], bits=8)


def test_versioned_write_time_travel_and_rollback(spark, tmp_path):
    from big_data_project_datapipeline_spark.sinks import (
        read_versioned,
        rollback_versioned,
        write_versioned,
    )

    root = str(tmp_path / "store")
    assert write_versioned(spark.range(0, 5), root) == 0
    assert write_versioned(spark.range(0, 9), root) == 1
    assert read_versioned(spark, root).count() == 9          # current
    assert read_versioned(spark, root, version=0).count() == 5  # travel
    rollback_versioned(root, 0)
    assert read_versioned(spark, root).count() == 5
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        rollback_versioned(root, 7)


def test_training_shards_manifest_and_determinism(spark, tmp_path):
    import hashlib
    import os

    df = spark.createDataFrame(
        [(i, f"tok{i} " * (i % 3 + 1)) for i in range(40)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "export")
    m = sinks.write_training_shards(df, root, n_shards=4, fmt="json")
    # manifest totals match the corpus
    assert m["total_rows"] == 40
    assert m["total_tokens"] == sum(i % 3 + 1 for i in range(40))
    assert set(m["shards"]) <= {"0", "1", "2", "3"}
    assert sum(s["n_rows"] for s in m["shards"].values()) == 40
    # shard membership is the md5 device — engine-independent expectation
    def expect_shard(doc_id: int) -> int:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 4

    back = spark.read.json(os.path.join(root, "data"))
    got = {r.doc_id: int(r.shard) for r in back.collect()}
    assert got == {i: expect_shard(i) for i in range(40)}
    # persisted manifest file round-trips
    with open(os.path.join(root, "_MANIFEST.json")) as fh:
        assert json.load(fh) == m
    # one data file per shard directory (single-partition-per-shard write)
    for sh in m["shards"]:
        d = os.path.join(root, "data", f"shard={sh}")
        files = [f for f in os.listdir(d) if f.endswith(".json")]
        assert len(files) == 1, (sh, files)
    # re-export reproduces identical shard membership + manifest
    m2 = sinks.write_training_shards(df, root, n_shards=4, fmt="json")
    assert m2 == m


def test_delete_where_touches_only_matching_partitions(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, i % 4, f"d{i % 3}") for i in range(60)],
        "id long, user long, day string",
    )
    sinks.write_partitioned(df, path, ["day"])
    # snapshot untouched partition's file listing + mtimes
    def files_of(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    # user 1 appears only in days where id%4==1; delete them
    before_all = spark.read.parquet(path).count()
    # pick a partition that contains NO user-1 rows? user 1 rows exist in
    # every day here, so craft one: day 'clean' without user 1
    extra = spark.createDataFrame(
        [(100, 2, "clean"), (101, 3, "clean")], "id long, user long, day string"
    )
    sinks.write_partitioned(extra, path, ["day"])
    clean_before = files_of("clean")
    n = sinks.delete_where(
        spark, path, F.col("user") == 1, partition_col="day"
    )
    assert n == 15  # 60 rows, user==1 for id%4==1
    back = spark.read.parquet(path)
    assert back.filter("user = 1").count() == 0
    assert back.count() == before_all + 2 - n
    # the partition without matches was not rewritten
    assert files_of("clean") == clean_before
    # deleting a non-existent subject is a no-op returning 0
    assert sinks.delete_where(
        spark, path, F.col("user") == 999, partition_col="day"
    ) == 0


def test_delete_where_fully_matching_partition_and_nulls(spark, tmp_path):
    # Review regressions: (1) a partition whose rows ALL match must be
    # emptied (dynamic overwrite alone cannot rewrite an empty
    # partition); (2) a NULL predicate result must KEEP the row (SQL
    # DELETE semantics), not delete it.
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [
            (1, 1, "d0"), (2, 1, "d0"),          # d0: all match user=1
            (3, 1, "d1"), (4, 2, "d1"),          # d1: mixed
            (5, None, "d1"),                      # NULL user: must stay
            (6, 3, "d2"),                         # d2: untouched
        ],
        "id long, user long, day string",
    )
    sinks.write_partitioned(df, path, ["day"])
    n = sinks.delete_where(
        spark, path, F.col("user") == 1, partition_col="day"
    )
    assert n == 3  # ids 1, 2, 3 — NOT the NULL row
    back = spark.read.parquet(path)
    assert sorted(r.id for r in back.collect()) == [4, 5, 6]
    import os

    assert not os.path.exists(os.path.join(path, "day=d0"))  # emptied


def test_merge_into_partitioned_null_partition_preserved(spark, tmp_path):
    # Review regression (reproduced): existing rows in the NULL partition
    # must survive a merge that touches that partition.
    path = str(tmp_path / "store")
    first = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", None)], "k long, v string, date string"
    )
    sinks.write_partitioned(first, path, ["date"])
    new = spark.createDataFrame([(3, "c", None)], "k long, v string, date string")
    sinks.merge_into_partitioned(new, path, keys=["k"], partition_col="date")
    got = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_delete_where_null_partition_rows(spark, tmp_path):
    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(1, 1, None), (2, 2, None), (3, 1, "d1")],
        "id long, user long, date string",
    )
    sinks.write_partitioned(df, path, ["date"])
    n = sinks.delete_where(spark, path, F.col("user") == 1, "date")
    assert n == 2  # the null-partition subject row is found and purged
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [2]


def test_promote_overwrite_recovers_from_crash_artifacts(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    df1 = spark.createDataFrame([(1,)], "x long")
    sinks.promote_overwrite(df1, path)
    # simulate a crash between the two renames: store moved aside, no live dir
    os.replace(path, path + ".promote.old")
    df2 = spark.createDataFrame([(2,)], "x long")
    sinks.promote_overwrite(df2, path)  # must recover, then promote
    assert [r.x for r in spark.read.parquet(path).collect()] == [2]
    assert not os.path.exists(path + ".promote.old")


def test_compact_recovers_from_stale_backup(spark, tmp_path):
    import os

    path = str(tmp_path / "store")
    spark.range(100).write.parquet(path)
    # simulate crash right after the first swap rename
    os.replace(path, path + ".compact.old")
    n = sinks.compact_parquet(spark, path)
    assert n >= 1
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + ".compact.old")


def test_training_shards_null_doc_id_rejected(spark, tmp_path):
    import pytest

    df = spark.createDataFrame(
        [(None, "some text"), (1, "more text")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="null doc ids"):
        sinks.write_training_shards(df, str(tmp_path / "x"), n_shards=2)


def test_register_bucketed_external_over_landed_dir(spark):
    """register_bucketed_table re-registers a write_bucketed directory
    (fresh-catalog role) as an EXTERNAL table whose restated bucketing
    spec still joins shuffle-free; files survive the registration's
    own DROP."""
    import os

    a = spark.range(500).withColumnRenamed("id", "k").withColumn(
        "va", F.col("k") * 2
    )
    sinks.write_bucketed(a, "bk_reg_src", "k", num_buckets=8, sort_col="k")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    loc = os.path.join(wh, "bk_reg_src")
    sinks.register_bucketed_table(
        spark, "bk_reg_twin", loc, "k BIGINT, va BIGINT", "k", 8, "k"
    )
    b = spark.range(500).withColumnRenamed("id", "k").withColumn(
        "vb", F.col("k") * 3
    )
    sinks.write_bucketed(b, "bk_reg_b", "k", num_buckets=8, sort_col="k")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_reg_twin").join(spark.table("bk_reg_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert joined.count() == 500
        assert "hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # external: dropping the registration keeps the landed files
    spark.sql("DROP TABLE bk_reg_twin")
    assert os.path.exists(loc) and any(
        f.endswith(".parquet") for f in os.listdir(loc)
    )


def test_write_bucketed_one_file_per_bucket(spark, tmp_path):
    """The round-9 alignment fix: a frame whose partitioning is
    MISALIGNED with the bucket column still lands exactly one data
    file per bucket (it wrote |partitions| x |buckets| files before —
    1,024 measured for a 32-bucket table at sf10)."""
    import os

    df = (
        spark.range(2000)
        .withColumnRenamed("id", "k")
        .withColumn("v", F.col("k") % 7)
        .repartition(16, F.col("v"))  # deliberately NOT the bucket col
    )
    sinks.write_bucketed(df, "bk_onefile", "k", num_buckets=8, sort_col="k")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    files = [
        f
        for f in os.listdir(os.path.join(wh, "bk_onefile"))
        if f.endswith(".parquet")
    ]
    assert len(files) == 8, files
