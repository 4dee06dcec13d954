"""End-to-end job CLI: landed payloads → ingest → partitioned store →
incremental features, two days, idempotent re-run."""

from __future__ import annotations

import datetime as dt
import json

from big_data_project_datapipeline_spark.__main__ import run_features, run_ingest


def _write_payloads(day_dir, date: str, temps):
    day_dir.mkdir(parents=True)
    hours = [f"{date}T{h:02d}:00" for h in range(len(temps))]
    (day_dir / "weather.json").write_text(json.dumps({
        "hourly": {
            "time": hours,
            "temperature_2m": temps,
            "relative_humidity_2m": [80.0] * len(temps),
            "wind_speed_10m": [3.0] * len(temps),
            "cloud_cover": [50.0] * len(temps),
            "shortwave_radiation": [0.0] * len(temps),
        }
    }))
    (day_dir / "air_quality.json").write_text(json.dumps({
        "hourly": {
            "time": hours,
            "pm10": [10.0] * len(temps),
            "pm2_5": [5.0] * len(temps),
            "carbon_monoxide": [200.0] * len(temps),
            "nitrogen_dioxide": [15.0] * len(temps),
            "sulphur_dioxide": [2.0] * len(temps),
            "ozone": [60.0] * len(temps),
            "us_aqi": [40.0] * len(temps),
        }
    }))
    (day_dir / "carbon_0.json").write_text(json.dumps({
        "data": [
            {"from": f"{date}T{h:02d}:00Z", "to": f"{date}T{h:02d}:30Z",
             "intensity": {"actual": 100.0 + h, "forecast": 99.0 + h,
                           "index": "moderate"}}
            for h in range(len(temps))
        ]
    }))
    (day_dir / "generation_mix.json").write_text(json.dumps({
        "data": {"from": f"{date}T00:00Z", "generationmix": [
            {"fuel": "gas", "perc": 30.0}, {"fuel": "wind", "perc": 25.0},
            {"fuel": "solar", "perc": 5.0}, {"fuel": "nuclear", "perc": 15.0},
            {"fuel": "biomass", "perc": 5.0}, {"fuel": "imports", "perc": 10.0},
            {"fuel": "coal", "perc": 10.0},  # not whitelisted -> dropped
        ]}
    }))
    (day_dir / "prices.json").write_text(json.dumps({
        "results": [
            {"valid_from": f"{date}T{h:02d}:{m:02d}:00Z",
             "value_inc_vat": 25.0 + h}
            for h in range(len(temps)) for m in (0, 30)
        ]
    }))


def test_two_day_ingest_then_incremental_features(spark, tmp_path):
    store = str(tmp_path / "raw")
    out = str(tmp_path / "features")

    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    day1 = run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    assert day1.count() == 3
    assert "uk_gen_coal_%" not in day1.columns  # whitelist applied
    assert day1.filter("`retail_price_£_per_kWh` IS NULL").count() == 0

    f1 = run_features(spark, store, out)
    assert f1.count() == 3
    assert "scaled_temperature_C" in f1.columns and "log_pm10" in f1.columns
    # snapshot NOW: returned frames are lazy over the store files and the
    # next run overwrites them
    v1 = {r["datetime"]: r["scaled_temperature_C"] for r in f1.collect()}

    # day 2 lands; ingest is additive, features process only the delta
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0, 9.0])
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))
    assert spark.read.parquet(store).count() == 5

    f2 = run_features(spark, store, out)
    assert f2.count() == 5
    # rename-promote leaves no stale .tmp for glob consumers to pick up
    assert not (tmp_path / "features" / "features.parquet.tmp").exists()
    # day-1 rows unchanged by the incremental run (keep-first)
    v2 = {r["datetime"]: r["scaled_temperature_C"] for r in f2.collect()}
    for k, v in v1.items():
        assert v2[k] == v

    # idempotent re-run of the same day: store row count stable
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))
    assert spark.read.parquet(store).count() == 5

    metrics = json.loads((tmp_path / "raw" / "_metrics" / "ingest.json").read_text())
    assert metrics["rows_ingested"] == 2


def test_reland_revised_partial_day(spark, tmp_path):
    """Re-landing a stored day with fewer, revised hours: the revised
    hours win, the missing hour is kept, other dates are not rewritten."""
    import os

    store = str(tmp_path / "raw")
    _write_payloads(tmp_path / "d1", "2024-01-15", [5.0, 6.0, 7.0])
    run_ingest(spark, str(tmp_path / "d1"), store, dt.date(2024, 1, 15))
    _write_payloads(tmp_path / "d2", "2024-01-16", [8.0, 9.0, 10.0])
    run_ingest(spark, str(tmp_path / "d2"), store, dt.date(2024, 1, 16))

    other = tmp_path / "raw" / "date=2024-01-16"
    mtimes = {p: os.stat(p).st_mtime_ns for p in other.iterdir()}

    _write_payloads(tmp_path / "d1r", "2024-01-15", [50.0, 60.0])
    run_ingest(spark, str(tmp_path / "d1r"), store, dt.date(2024, 1, 15))

    rows = spark.read.parquet(store).filter("date = '2024-01-15'").collect()
    got = {r["datetime"].hour: r["temperature_C"] for r in rows}
    assert len(rows) == 3
    assert got == {0: 50.0, 1: 60.0, 2: 7.0}
    assert {p: os.stat(p).st_mtime_ns for p in other.iterdir()} == mtimes
    metrics = json.loads((tmp_path / "raw" / "_metrics" / "ingest.json").read_text())
    assert metrics["rows_ingested"] == 2


def test_cli_compact(spark, tmp_path):
    import glob

    from big_data_project_datapipeline_spark.__main__ import main

    path = str(tmp_path / "store")
    spark.range(0, 1000).repartition(8).write.parquet(path)
    assert len(glob.glob(path + "/*.parquet")) == 8
    main(["compact", "--path", path, "--target-file-mb", "512"])
    assert len(glob.glob(path + "/*.parquet")) == 1
    assert spark.read.parquet(path).count() == 1000


def test_cli_dedup(spark, tmp_path):
    from big_data_project_datapipeline_spark.__main__ import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")], "doc_id long, text string"
    ).write.parquet(docs)
    main(
        [
            "dedup",
            "--docs-dir", docs,
            "--index-dir", str(tmp_path / "index"),
            "--out", str(tmp_path / "out"),
            "--checkpoint", str(tmp_path / "cp"),
            "--window", "3",
        ]
    )
    got = {
        r["doc_id"]: r["text_dedup"]
        for r in spark.read.parquet(str(tmp_path / "out" / "docs_*")).collect()
    }
    assert got == {1: "a b c d", 2: "x"}


def test_cli_export(spark, tmp_path):
    import json as _json

    from big_data_project_datapipeline_spark.__main__ import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, f"w{i} w{i}") for i in range(20)], "doc_id long, text string"
    ).write.parquet(docs)
    out = str(tmp_path / "export")
    main(["export", "--docs", docs, "--out", out, "--shards", "4"])
    with open(out + "/_MANIFEST.json") as fh:
        m = _json.load(fh)
    assert m["total_rows"] == 20 and m["total_tokens"] == 40
    assert spark.read.json(out + "/data").count() == 20


def test_cli_delete(spark, tmp_path):
    from big_data_project_datapipeline_spark import sinks
    from big_data_project_datapipeline_spark.__main__ import main

    path = str(tmp_path / "store")
    df = spark.createDataFrame(
        [(i, i % 3, f"d{i % 2}") for i in range(12)],
        "id long, user long, day string",
    )
    sinks.write_partitioned(df, path, ["day"])
    main(["delete", "--path", path, "--where", "user = 1",
          "--partition-col", "day"])
    assert spark.read.parquet(path).filter("user = 1").count() == 0
    assert spark.read.parquet(path).count() == 8
