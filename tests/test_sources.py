"""Payload normalizers S1–S5 (SURVEY.md §2.1) on fixture payloads shaped
exactly like the reference's API bodies (raw_data.py:22-206)."""

from __future__ import annotations

from big_data_project_datapipeline_spark.sources.json_payloads import (
    normalize_carbon_records,
    normalize_generation_mix,
    normalize_parallel_arrays,
    normalize_prices,
)


def test_parallel_arrays(spark):
    payload = {
        "hourly": {
            "time": ["2024-01-01T00:00", "2024-01-01T01:00"],
            "temperature_2m": [5.5, 6.0],
            "relative_humidity_2m": [80.0, 82.0],
        }
    }
    df = normalize_parallel_arrays(
        spark,
        payload,
        "hourly",
        {"temperature_2m": "temperature_C", "relative_humidity_2m": "humidity_%"},
    )
    rows = df.orderBy("datetime").collect()
    assert [r["temperature_C"] for r in rows] == [5.5, 6.0]
    assert rows[0]["datetime"].hour == 0 and rows[1]["humidity_%"] == 82.0


def test_carbon_records_skips_bad_and_coerces(spark):
    payloads = [
        {
            "data": [
                {"from": "2024-01-01T00:00", "intensity": {"actual": 100.0, "forecast": 90.0, "index": "low"}},
                {"from": None, "intensity": {"actual": 1.0, "forecast": 1.0, "index": "low"}},  # F6 skip
                {"from": "garbage", "intensity": {"actual": 2.0, "forecast": 2.0, "index": "low"}},  # P4 coerce→null→drop
            ]
        },
        {"data": [{"from": "2024-01-01T00:30", "intensity": {"actual": None, "forecast": 95.0, "index": "moderate"}}]},
    ]
    rows = normalize_carbon_records(spark, payloads).orderBy("datetime").collect()
    assert len(rows) == 2
    assert rows[0]["carbon_intensity_actual"] == 100.0
    assert rows[1]["carbon_intensity_actual"] is None  # nullable actual


def test_generation_mix_pivot_whitelist(spark):
    payload = {
        "data": {
            "from": "2024-01-01T00:00",
            "generationmix": [
                {"fuel": "gas", "perc": 30.0},
                {"fuel": "wind", "perc": 25.0},
                {"fuel": "coal", "perc": 1.0},     # not whitelisted → dropped
                {"fuel": "Solar", "perc": 5.0},    # case-normalized
            ],
        }
    }
    rows = normalize_generation_mix(spark, payload).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["uk_gen_gas_%"] == 30.0 and r["uk_gen_wind_%"] == 25.0
    assert r["uk_gen_solar_%"] == 5.0
    assert "uk_gen_coal_%" not in rows[0].asDict()
    assert r["uk_gen_nuclear_%"] is None  # whitelisted but absent → null col


def test_prices_projection_and_scaling(spark):
    payload = {
        "results": [
            {"valid_from": "2024-01-01T00:00:00Z", "value_inc_vat": 25.0, "value_exc_vat": 20.0},
            {"valid_from": "2024-01-01T00:30:00Z", "value_inc_vat": 30.0, "value_exc_vat": 24.0},
        ]
    }
    df = normalize_prices(spark, payload)
    assert df.columns == ["datetime", "retail_price_£_per_kWh"]  # P1 prune
    rows = df.orderBy("datetime").collect()
    assert rows[0]["retail_price_£_per_kWh"] == 0.25  # P2: /100


def test_schema_drift_reports_all_changes(spark):
    from pyspark.sql import types as T

    from big_data_project_datapipeline_spark.schemas import (
        assert_schema,
        schema_drift,
    )

    expected = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField(
                "n",
                T.StructType([T.StructField("x", T.DoubleType())]),
            ),
        ]
    )
    df = spark.createDataFrame(
        [(1.0, {"x": "s"}, True)],
        T.StructType(
            [
                T.StructField("a", T.DoubleType()),        # type change
                T.StructField(
                    "n",
                    T.StructType([T.StructField("x", T.StringType())]),
                ),                                          # nested change
                T.StructField("c", T.BooleanType()),        # unexpected
            ]                                               # b missing
        ),
    )
    drifts = schema_drift(df.schema, expected)
    assert sorted(d.split(":")[0] for d in drifts) == [
        "missing column",
        "type change",
        "type change",
        "unexpected column",
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="nested|n.x"):
        assert_schema(df, expected)
    # identical schema: clean
    assert schema_drift(expected, expected) == []


def test_normalizers_accept_integer_json_values(spark):
    # Real APIs emit JSON integers; DoubleType schemas must coerce, not
    # crash (review regression, reproduced on live-shaped payloads).
    from big_data_project_datapipeline_spark.sources.json_payloads import (
        normalize_carbon_records,
        normalize_generation_mix,
        normalize_parallel_arrays,
        normalize_prices,
    )

    w = normalize_parallel_arrays(
        spark,
        {"hourly": {"time": ["2024-01-01T00:00"], "temperature_2m": [7]}},
        "hourly",
        {"temperature_2m": "temperature_C"},
    )
    assert w.collect()[0].temperature_C == 7.0
    c = normalize_carbon_records(
        spark,
        [{"data": [{"from": "2024-01-01T00:00Z", "to": "2024-01-01T00:30Z",
                    "intensity": {"actual": 263, "forecast": 270,
                                  "index": "high"}}]}],
    )
    row = c.collect()[0]
    assert row.carbon_intensity_actual == 263.0
    g = normalize_generation_mix(
        spark,
        {"data": {"from": "2024-01-01T00:00Z",
                  "generationmix": [{"fuel": "wind", "perc": 40}]}},
    )
    assert g.collect()[0]["uk_gen_wind_%"] == 40.0
    p = normalize_prices(
        spark,
        {"results": [{"valid_from": "2024-01-01T00:00:00Z",
                      "value_inc_vat": 25}]},
    )
    assert p.collect()[0]['retail_price_£_per_kWh'] == 0.25


def _normalized_frames(spark, payload_value):
    """One frame per normalizer, each carrying ``payload_value`` in its
    numeric field(s)."""
    return {
        "parallel_arrays": lambda: normalize_parallel_arrays(
            spark,
            {"hourly": {"time": ["2024-01-01T00:00"], "temperature_2m": [payload_value]}},
            "hourly",
            {"temperature_2m": "temperature_C"},
        ),
        "carbon": lambda: normalize_carbon_records(
            spark,
            [{"data": [{"from": "2024-01-01T00:00Z",
                        "intensity": {"actual": payload_value, "index": "low"}}]}],
        ),
        "generation_mix": lambda: normalize_generation_mix(
            spark,
            {"data": {"from": "2024-01-01T00:00Z",
                      "generationmix": [{"fuel": "wind", "perc": payload_value}]}},
        ),
        "prices": lambda: normalize_prices(
            spark,
            {"results": [{"valid_from": "2024-01-01T00:00:00Z",
                          "value_inc_vat": payload_value}]},
        ),
    }


def test_normalizer_frames_have_no_python_rdd(spark):
    # Payload frames are decoded in the JVM from Arrow: no pickled rows,
    # no Python-worker stage per source.
    for name, build in _normalized_frames(spark, 1.0).items():
        lineage = build()._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, (name, lineage)


def test_normalizers_reject_bool_and_non_numeric_values(spark):
    import pytest as _pytest

    for bad in (True, "12.5"):
        for build in _normalized_frames(spark, bad).values():
            with _pytest.raises(TypeError, match="can not accept"):
                build()


def test_string_fields_take_any_json_scalar_as_text(spark):
    # a string field keeps the row path's leniency: the value's JSON text
    c = normalize_carbon_records(
        spark,
        [
            {"data": [{"from": "2024-01-01T00:00Z", "intensity": {"index": 3}}]},
            {"data": [{"from": "2024-01-01T00:30Z", "intensity": {"index": True}}]},
        ],
    ).collect()
    assert sorted(r["carbon_index"] for r in c) == ["3", "true"]


def test_empty_payloads_give_empty_frames_with_declared_schema(spark):
    full = {k: build() for k, build in _normalized_frames(spark, 1.0).items()}
    empty = {
        "parallel_arrays": normalize_parallel_arrays(
            spark, {}, "hourly", {"temperature_2m": "temperature_C"}
        ),
        "carbon": normalize_carbon_records(spark, [{"data": []}]),
        "generation_mix": normalize_generation_mix(
            spark, {"data": {"from": "2024-01-01T00:00Z", "generationmix": []}}
        ),
        "prices": normalize_prices(spark, {"results": []}),
    }
    for name, df in empty.items():
        assert df.count() == 0, name
        assert df.schema == full[name].schema, name
