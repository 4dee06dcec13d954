"""daily_pipeline: the reference's two cron jobs, day after day, on one session.

Each op is one landed day: ``__main__.run_ingest`` (five payloads ->
normalize -> merge -> upsert into the date-partitioned raw store) then
``__main__.run_features`` (anti-join delta -> features -> promote the
feature parquet -> CSV export). Set-up seeds the raw store with
``HISTORY_DAYS`` of history in one bulk write and runs one throwaway
bootstrap day, so the timed days run on a warm session.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import gen
from spans import median

HISTORY_DAYS = 60
START = dt.date(2024, 1, 1)
RELAND_EVERY = 3  # jobs 0, 3, 6, ... re-land an earlier day, revised

PKG = "big_data_project_datapipeline_spark"

# (module, attribute, span name, layer role) wrapped in the traced run: the
# names ``__main__.run_ingest``/``run_features`` resolve at call time.
TRACED = [
    (f"{PKG}.__main__", "normalize_parallel_arrays", "sources.normalize", "read"),
    (f"{PKG}.__main__", "normalize_carbon_records", "sources.normalize", "read"),
    (f"{PKG}.__main__", "normalize_generation_mix", "sources.normalize", "read"),
    (f"{PKG}.__main__", "normalize_prices", "sources.normalize", "read"),
    (f"{PKG}.__main__", "load_or_empty", "operators.load_or_empty", "read"),
    (f"{PKG}.__main__", "merge_all_sources", "plans.merge_all_sources", "plan"),
    (f"{PKG}.__main__", "daily_ingest", "plans.daily_ingest", "plan"),
    (f"{PKG}.__main__", "incremental_feature_run", "plans.incremental_feature_run", "plan"),
    (f"{PKG}.__main__", "merge_into_partitioned", "sinks.merge_into_partitioned", "sink"),
    (f"{PKG}.__main__", "write_metrics_json", "sinks.write_metrics_json", "sink"),
    (f"{PKG}.__main__", "promote_overwrite", "sinks.promote_overwrite", "sink"),
    (f"{PKG}.__main__", "export_csv", "sinks.export_csv", "sink"),
]


HISTORY = [START + dt.timedelta(days=i) for i in range(HISTORY_DAYS)]


def schedule(seed: int, n: int) -> list[tuple[dt.date, int]]:
    return gen.day_schedule(seed, HISTORY, n, RELAND_EVERY)


def _files(*roots: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root in roots:
        for d, _, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(d, n))
                out[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return out


class DailyPipeline:
    min_ops = 2  # timed days per run, whatever --seconds says

    def __init__(self, spark, work: str, seed: int, tracer):
        from big_data_project_datapipeline_spark import __main__ as jobs

        self.spark, self.seed, self.tracer, self.jobs = spark, seed, tracer, jobs
        self.work = work
        self.store = os.path.join(work, "raw")
        self.out = os.path.join(work, "features")
        # day -> latest revision in the store
        self.landed: dict[dt.date, int] = dict.fromkeys(HISTORY, 0)
        self.ingest_s: list[float] = []
        self.features_s: list[float] = []
        self.op_s: list[float] = []
        self.ops: list[str] = []
        self.written: list[tuple[int, int]] = []  # (bytes, files) per day
        self.rows_per_day = 0.0

    # -- set-up ------------------------------------------------------------
    def seed_history(self) -> None:
        """Write ``HISTORY_DAYS`` days of raw rows into the store, one
        parquet file per date partition, as the merge would produce them
        from the day's payloads: the hourly grid of the weather, air and
        carbon sources, the on-the-hour price and the day's whitelisted
        generation mix. Written with pyarrow, so no Spark job runs before
        the bootstrap day."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        jobs = self.jobs
        fuels = ["biomass", "imports", "gas", "nuclear", "solar", "wind"]
        names = (
            ["datetime"] + list(jobs.WEATHER_MAPPING.values())
            + list(jobs.AIR_QUALITY_MAPPING.values())
            + ["carbon_intensity_actual", "carbon_intensity_forecast", "carbon_index",
               "retail_price_£_per_kWh"]
            + [f"uk_gen_{f}_%" for f in fuels]
        )
        schema = pa.schema(
            [("datetime", pa.timestamp("us", tz="UTC"))]
            + [(n, pa.string() if n == "carbon_index" else pa.float64()) for n in names[1:]]
        )
        for day in HISTORY:
            p = gen.day_payloads(self.seed, day)
            w, a = p["weather.json"]["hourly"], p["air_quality.json"]["hourly"]
            w_at = {t: i for i, t in enumerate(w["time"])}
            carbon = {r["from"][:13]: r["intensity"] for r in p["carbon_0.json"]["data"]}
            price = {r["valid_from"][:16]: r["value_inc_vat"] / 100.0 for r in p["prices.json"]["results"]}
            mix = {r["fuel"]: r["perc"] for r in p["generation_mix.json"]["data"]["generationmix"]}
            cols: dict[str, list] = {n: [] for n in names}
            for h, t in enumerate(a["time"]):
                cols["datetime"].append(dt.datetime(day.year, day.month, day.day, h, tzinfo=dt.timezone.utc))
                for src, out in jobs.WEATHER_MAPPING.items():
                    cols[out].append(w[src][w_at[t]] if t in w_at else None)
                for src, out in jobs.AIR_QUALITY_MAPPING.items():
                    cols[out].append(a[src][h])
                c = carbon[t[:13]]
                cols["carbon_intensity_actual"].append(c["actual"])
                cols["carbon_intensity_forecast"].append(c["forecast"])
                cols["carbon_index"].append(c["index"])
                cols["retail_price_£_per_kWh"].append(price[t])
                for f in fuels:
                    cols[f"uk_gen_{f}_%"].append(mix[f])
            part = os.path.join(self.store, f"date={day.isoformat()}")
            os.makedirs(part)
            pq.write_table(pa.table(cols, schema=schema), os.path.join(part, "part-00000.parquet"))

    def setup(self) -> None:
        self.seed_history()
        self.op(0, timed=False)  # throwaway bootstrap day: a re-landing

    # -- timed ops ---------------------------------------------------------
    def op(self, i: int, timed: bool = True) -> None:
        day, rev = schedule(self.seed, i + 1)[i]
        payload_dir = os.path.join(self.work, "landed", f"{day}-r{rev}")
        gen.write_payload_dir(gen.day_payloads(self.seed, day, rev), payload_dir)
        before = _files(self.store, self.out) if self.tracer.enabled else None
        op = f"day{i}"
        self.tracer.op = op
        t0 = time.perf_counter()
        with self.tracer.span("op.ingest"):
            self.jobs.run_ingest(self.spark, payload_dir, self.store, day)
        t1 = time.perf_counter()
        with self.tracer.span("op.features"):
            self.jobs.run_features(self.spark, self.store, self.out)
        t2 = time.perf_counter()
        self.landed[day] = rev
        if not timed:
            return
        self.ops.append(op)
        self.ingest_s.append(t1 - t0)
        self.features_s.append(t2 - t1)
        self.op_s.append(t2 - t0)
        if before is not None:
            after = _files(self.store, self.out)
            changed = [p for p, v in after.items() if before.get(p) != v]
            self.written.append((sum(after[p][0] for p in changed), len(changed)))

    def check(self) -> int:
        """Number of failed days: a day fails unless the store holds exactly
        24 rows for it, with the temperatures of its latest landing. The
        whole run fails if ``datetime`` repeats or the feature table's rows
        differ from the raw store's."""
        from pyspark.sql import functions as F

        raw = self.spark.read.parquet(self.store)
        rows = raw.select(
            "datetime", "date", F.hour("datetime").alias("hour"), "temperature_C"
        ).collect()
        feats = self.spark.read.parquet(os.path.join(self.out, "features.parquet"))
        feat_ts = {r[0] for r in feats.select("datetime").collect()}
        raw_ts = [r["datetime"] for r in rows]
        n_days = len(self.ops) + 1
        if (
            len(set(raw_ts)) != len(raw_ts)
            or feat_ts != set(raw_ts)
            or feats.count() != len(raw_ts)
            or len(raw_ts) != 24 * len(self.landed)
        ):
            return n_days
        by_day: dict[dt.date, dict[int, float]] = {}
        for r in rows:
            by_day.setdefault(r["date"], {})[r["hour"]] = r["temperature_C"]
        self.rows_per_day = median([len(by_day.get(d, {})) for d in self.landed])
        failed = 0
        for day, rev in self.landed.items():
            w = gen.day_payloads(self.seed, day, rev)["weather.json"]["hourly"]
            want = {int(t[11:13]): v for t, v in zip(w["time"], w["temperature_2m"])}
            got = by_day.get(day, {})
            if len(got) != 24 or any(got[h] != v for h, v in want.items()):
                failed += 1
        return min(failed, n_days)

    def bytes_per_row(self) -> float:
        total = sum(size for size, _ in _files(self.store, self.out).values())
        return total / (24 * len(self.landed))

    def properties(self) -> dict:
        """Measured properties of the inputs this run landed."""
        n = len(self.ops) + 1
        jobs = schedule(self.seed, n)
        docs = [gen.day_payloads(self.seed, d, r) for d, r in jobs]
        return {
            "history_days": HISTORY_DAYS,
            "days_run": n,
            "timed_days": len(self.ops),
            "rows_per_day": self.rows_per_day,
            "relanded_share": round(sum(1 for _, r in jobs if r > 0) / n, 3),
            "missing_hour_share": round(
                sum(len(d["weather.json"]["hourly"]["time"]) < 24 for d in docs) / n, 3
            ),
            "null_carbon_actuals_per_day": round(
                sum(
                    r["intensity"]["actual"] is None
                    for d in docs for r in d["carbon_0.json"]["data"]
                ) / n, 3
            ),
        }

    def e2e(self) -> dict:
        return {
            "op_p50_s": median(self.op_s),
            "ingest_p50_s": median(self.ingest_s),
            "features_p50_s": median(self.features_s),
            "bytes_per_row": self.bytes_per_row(),
        }

    def per_layer(self) -> dict:
        tr, ops = self.tracer, self.ops
        jobs_in = lambda name: [  # noqa: E731
            s.counters.get("jobs", 0) for s in tr.spans if s.name == name and s.op in ops
        ]
        out = {}
        out["spark.jobs_per_ingest"] = median(jobs_in("op.ingest"))
        out["spark.jobs_per_features"] = median(jobs_in("op.features"))
        out["sinks.bytes_written_per_day"] = median([b for b, _ in self.written])
        out["sinks.files_written_per_day"] = median([f for _, f in self.written])
        out["store.files"] = len(_files(self.store))
        return out
