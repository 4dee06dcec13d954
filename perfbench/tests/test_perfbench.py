"""Tests of the benchmark's own helpers: generators, statistics, spans and
Spark status-store deltas.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import types

import pytest

import gen
import run
from spans import SparkCounters, Span, Tracer, covered, median, percentile

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generators --------------------------------------------------------------

def test_day_payloads_deterministic_per_seed():
    day = dt.date(2024, 3, 1)
    assert gen.day_payloads(7, day) == gen.day_payloads(7, day)
    assert gen.day_payloads(7, day) != gen.day_payloads(8, day)


def test_revision_shifts_temperatures_only():
    day = dt.date(2024, 3, 1)
    r0, r2 = gen.day_payloads(3, day, 0), gen.day_payloads(3, day, 2)
    t0 = r0["weather.json"]["hourly"]["temperature_2m"]
    t2 = r2["weather.json"]["hourly"]["temperature_2m"]
    assert [round(b - a, 6) for a, b in zip(t0, t2)] == [2.0] * len(t0)
    assert r0["air_quality.json"] == r2["air_quality.json"]


def test_day_payload_shapes():
    for seed in range(20):
        p = gen.day_payloads(seed, dt.date(2024, 1, 5))
        assert len(p["air_quality.json"]["hourly"]["time"]) == 24
        assert len(p["weather.json"]["hourly"]["time"]) in (23, 24)
        actuals = [r["intensity"]["actual"] for r in p["carbon_0.json"]["data"]]
        assert len(actuals) == 48 and 1 <= actuals.count(None) <= 4


def test_day_schedule_deterministic_with_reland_cadence():
    history = [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(10)]
    jobs = gen.day_schedule(5, history, 9, 3)
    assert jobs == gen.day_schedule(5, history, 9, 3)
    assert jobs[:4] == gen.day_schedule(5, history, 4, 3)  # prefix-stable
    relands = [i for i, (_, rev) in enumerate(jobs) if rev > 0]
    assert relands == [0, 3, 6]
    new_days = [d for d, rev in jobs if rev == 0]
    assert new_days == [dt.date(2024, 1, 11) + dt.timedelta(days=i) for i in range(6)]


def test_corpus_deterministic_and_planted():
    rows, plan = gen.corpus(4, 500)
    assert (rows, plan) == gen.corpus(4, 500)
    assert gen.corpus(5, 500)[0] != rows
    assert [r["doc_id"] for r in rows] == list(range(500))
    norm = lambda t: " ".join("".join(c if c.isalnum() else " " for c in t.lower()).split())  # noqa: E731
    originals = {norm(rows[i]["text"]) for i in plan["originals"]}
    for i in plan["exact"]:
        assert norm(rows[i]["text"]) in originals
    assert 0.05 < len(plan["exact"]) / 500 < 0.15
    assert 0.05 < len(plan["near"]) / 500 < 0.15


def test_write_corpus_row_groups(tmp_path):
    import pyarrow.parquet as pq

    rows, _ = gen.corpus(1, 100)
    path = str(tmp_path / "documents.parquet")
    gen.write_corpus(rows, path, 4)
    assert pq.ParquetFile(path).num_row_groups == 4


# -- statistics and spans ----------------------------------------------------

def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
    assert median(xs) == statistics.median(xs) == 3.5
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 10.0
    assert percentile(xs, 25) == pytest.approx(2.25)
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        Span(0, "op", 0.0, 10.0, None, "a"),
        Span(1, "x", 1.0, 4.0, 0, "a"),
        Span(2, "y", 3.0, 5.0, 0, "a"),  # overlaps x: union is 1..5
        Span(3, "z", 2.0, 3.0, 1, "a"),
        Span(4, "x", 0.0, 2.0, None, "b"),
    ]
    st = tr.self_times()
    assert st == {0: 6.0, 1: 2.0, 2: 2.0, 3: 1.0, 4: 2.0}
    assert tr.per_op({"x"}, ["a", "b", "c"]) == [2.0, 2.0, 0.0]
    assert tr.per_op({"x", "z"}, ["a", "b"]) == [3.0, 2.0]


def test_wrap_records_spans_and_restores():
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    original = mod.f
    tr = Tracer(True)
    tr.op = "op1"
    tr.wrap(mod, "f", "layer.f")
    with tr.span("outer"):
        assert mod.f(1) == 2
    tr.restore()
    assert mod.f is original
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [
        ("outer", None, "op1"), ("layer.f", 0, "op1"),
    ]


def test_disabled_tracer_is_pass_through():
    mod = types.SimpleNamespace(f=len)
    tr = Tracer(False)
    tr.wrap(mod, "f", "layer.f")
    with tr.span("outer"):
        assert mod.f("abc") == 3
    assert mod.f is len and tr.spans == []


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOADS
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == run.PER_LAYER


# -- Spark status-store deltas -----------------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.sql.adaptive.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_store_deltas_on_multi_stage_job(spark):
    counters = SparkCounters(spark)
    mark = counters.mark()
    rows = (
        spark.range(0, 10000, numPartitions=4)
        .selectExpr("id % 7 AS k")
        .groupBy("k")
        .count()
        .collect()
    )
    assert len(rows) == 7
    d = counters.since(mark)
    assert d["jobs"] == 1
    assert d["stages"] == 2  # scan + shuffle-read stage
    assert d["tasks"] == 4 + 3
    assert d["shuffle_write_bytes"] > 0
    assert d["executor_run_s"] >= 0 and d["executor_cpu_s"] > 0
    # nothing ran since: the next delta is empty
    assert counters.since(counters.mark()) == dict.fromkeys(d, 0)
