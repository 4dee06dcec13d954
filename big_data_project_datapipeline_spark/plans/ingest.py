"""Ingestion pipeline: merge 5 sources → hourly grid → upsert history.

Mirrors ``merge_all_sources`` + ``collect_and_append_yesterday`` (reference
raw_data.py:210-269,273-352) as ONE lazy plan:

    weather ⟗ air_quality ⟗ carbon          (J1, J2 full-outer on datetime)
      as-of⋈ prices (nearest, ±30 min)       (J3)
      ⨯ broadcast(generation_mix row)        (J4)
      filter(day == target, minute == 0)     (F1, F2)
      upsert into history, new wins          (U1 + D1)

The CLI job stops at F1/F2 (``hourly_grid``) and leaves the D1 upsert to
``sinks.merge_into_partitioned``; ``daily_ingest`` is the whole plan (q37).

Physical plan at scale: the three grid sources shuffle once on ``datetime``
(AQE coalesces the tiny ones), prices joins via the bucketed as-of (one
shuffle on a salted-enough integer bucket key), the 1-row generation mix is
a literal broadcast, and the final upsert is one window over the key —
partition-prunable to the touched dates on a date-partitioned sink.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from big_data_project_datapipeline_spark.operators.asof import asof_join
from big_data_project_datapipeline_spark.operators.merge import upsert_keep_last


def merge_all_sources(
    weather: DataFrame,
    air_quality: DataFrame,
    carbon: DataFrame,
    generation_mix: DataFrame,
    prices: DataFrame,
    ts_col: str = "datetime",
    price_target_date: dt.date | None = None,
) -> DataFrame:
    """J1→J2→J3(as-of)→J4 as one plan (reference raw_data.py:210-237).

    ``price_target_date`` replicates the reference's filter of prices to
    the target day BEFORE merge_asof (raw_data.py:203-206): without it a
    day-boundary grid row (00:00) could be stamped with the previous day's
    23:30 price that the reference leaves NaN.
    """
    merged = weather.join(air_quality, on=ts_col, how="full_outer").join(
        carbon, on=ts_col, how="full_outer"
    )
    if price_target_date is not None:
        prices = prices.filter(
            F.to_date(F.col(ts_col)) == F.lit(price_target_date)
        )
    merged = asof_join(
        merged, prices, on=ts_col, tolerance_seconds=1800, direction="nearest"
    )
    # J4: stamp the single-row snapshot onto every row. The mix row is O(1);
    # crossJoin(broadcast(...)) keeps it plan-side with no shuffle.
    mix_payload = generation_mix.drop(ts_col)
    # an EMPTY mix payload (API returned no generationmix block) would
    # cross-join the whole day down to zero rows and silently discard
    # every other source (review fix) — fail loudly like the reference's
    # column assignment would; the frame is O(1), so the count is free
    if mix_payload.count() == 0:
        raise ValueError(
            "merge_all_sources: generation-mix payload is empty — "
            "refusing to annihilate the day's merged grid"
        )
    return merged.crossJoin(F.broadcast(mix_payload))


def hourly_grid(
    merged: DataFrame, target_date: dt.date, ts_col: str = "datetime"
) -> DataFrame:
    """F1/F2: the target day's on-the-hour rows (raw_data.py:306-316)."""
    ts = F.col(ts_col)
    return merged.filter((F.to_date(ts) == F.lit(target_date)) & (F.minute(ts) == 0))


def daily_ingest(
    merged: DataFrame,
    history: DataFrame,
    target_date: dt.date,
    ts_col: str = "datetime",
) -> DataFrame:
    """Filter to the target day's hourly grid and upsert into history
    (reference raw_data.py:306-316,241-263). Returns the new history."""
    day = hourly_grid(merged, target_date, ts_col)
    return upsert_keep_last(history, day, keys=(ts_col,)).orderBy(ts_col)
