"""Seeded input generators for the benchmark workloads.

Every generator takes the run seed and derives all randomness from
``random.Random`` keyed on it, so the same seed always yields byte-identical
inputs. The program under test only ever sees the files these write.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

# --------------------------------------------------------------------------
# daily_pipeline: the five landed API payloads of one day
# --------------------------------------------------------------------------

AIR_KEYS = [
    "pm10", "pm2_5", "carbon_monoxide", "nitrogen_dioxide",
    "sulphur_dioxide", "ozone", "us_aqi",
]
FUELS = ["biomass", "imports", "gas", "nuclear", "solar", "wind", "coal", "hydro"]
CARBON_INDEX = ["very low", "low", "moderate", "high", "very high"]


def day_payloads(seed: int, day: dt.date, revision: int = 0) -> dict[str, dict]:
    """The five landed payloads of ``day`` (file name -> JSON document).

    ``revision`` > 0 is a re-landing of the same day with revised values:
    every temperature moves by ``revision`` degrees, so the check can tell
    which landing the store kept. Per day the generator plants a few null
    carbon actuals and, on about one day in four, drops one hour from the
    weather arrays (the air-quality grid still covers it)."""
    rng = random.Random(f"payload:{seed}:{day.isoformat()}")
    d = day.isoformat()
    hours = [f"{d}T{h:02d}:00" for h in range(24)]
    temps = [round(rng.gauss(12.0, 5.0) + revision, 2) for _ in range(24)]
    weather = {
        "temperature_2m": temps,
        "relative_humidity_2m": [round(rng.uniform(40, 100), 1) for _ in range(24)],
        "wind_speed_10m": [round(rng.uniform(0, 15), 2) for _ in range(24)],
        "cloud_cover": [round(rng.uniform(0, 100), 1) for _ in range(24)],
        "shortwave_radiation": [
            0.0 if h < 7 or h > 18 else round(rng.uniform(0, 600), 1)
            for h in range(24)
        ],
    }
    w_hours = list(hours)
    if rng.random() < 0.25:  # occasional missing hour in one source
        gap = rng.randrange(1, 23)
        w_hours.pop(gap)
        weather = {k: v[:gap] + v[gap + 1:] for k, v in weather.items()}
    air = {k: [round(rng.lognormvariate(2.5, 0.6), 3) for _ in range(24)] for k in AIR_KEYS}
    n_null = rng.randint(1, 4)  # the API leaves the most recent actuals empty
    carbon = []
    for slot in range(48):
        h, m = divmod(slot * 30, 60)
        fc = round(rng.uniform(60, 300), 1)
        carbon.append({
            "from": f"{d}T{h:02d}:{m:02d}Z",
            "to": f"{d}T{h:02d}:{m + 29:02d}Z",
            "intensity": {
                "actual": None if slot >= 48 - n_null else round(fc + rng.gauss(0, 10), 1),
                "forecast": fc,
                "index": CARBON_INDEX[min(4, int(fc // 60) - 1)],
            },
        })
    mix = [{"fuel": f, "perc": round(rng.uniform(0, 40), 1)} for f in FUELS]
    prices = [
        {"valid_from": f"{d}T{h:02d}:{m:02d}:00Z", "value_inc_vat": round(rng.uniform(10, 40), 2)}
        for h in range(24) for m in (0, 30)
    ]
    return {
        "weather.json": {"hourly": {"time": w_hours, **weather}},
        "air_quality.json": {"hourly": {"time": hours, **air}},
        "carbon_0.json": {"data": carbon},
        "generation_mix.json": {"data": {"from": f"{d}T00:00Z", "generationmix": mix}},
        "prices.json": {"results": prices},
    }


def write_payload_dir(payloads: dict[str, dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    for name, doc in payloads.items():
        with open(os.path.join(path, name), "w", encoding="utf-8") as fh:
            json.dump(doc, fh)


def day_schedule(
    seed: int, history: list[dt.date], n: int, reland_every: int
) -> list[tuple[dt.date, int]]:
    """``n`` ingest jobs as (day, revision) after the ``history`` days.

    Jobs land consecutive new days after the last history day, except that
    job 0 and every ``reland_every``-th job after it re-land a seeded choice
    of an earlier day with that day's next revision."""
    rng = random.Random(f"schedule:{seed}")
    revisions = dict.fromkeys(history, 0)
    nxt = max(history) + dt.timedelta(days=1)
    jobs: list[tuple[dt.date, int]] = []
    for i in range(n):
        if i % reland_every == 0:
            day = rng.choice(sorted(revisions))
            revisions[day] += 1
        else:
            day, nxt = nxt, nxt + dt.timedelta(days=1)
            revisions[day] = 0
        jobs.append((day, revisions[day]))
    return jobs


# --------------------------------------------------------------------------
# corpus_curation: a document corpus with planted duplicates
# --------------------------------------------------------------------------

STOPWORDS = ["the", "of", "and", "to", "in", "is", "that", "for", "it", "with", "as", "on"]


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(3, 9))))
    return sorted(words)


def corpus(
    seed: int,
    n_docs: int,
    exact_share: float = 0.10,
    near_share: float = 0.10,
    junk_share: float = 0.05,
) -> tuple[list[dict], dict]:
    """``n_docs`` documents with planted duplicates; returns (rows, plan).

    Document lengths are log-normal (median ~120 tokens, clipped to
    [20, 1200]). ``exact_share`` of the docs copy an earlier original with
    only case and punctuation changed, so they normalize to the same
    text; ``near_share`` copy an earlier original with ~2% of the tokens
    replaced; ``junk_share`` are punctuation-heavy fragments the quality
    gate rejects. Duplicates always get a larger id than their source, so a
    keep-first dedup keeps the source. ``plan`` lists the planted ids."""
    rng = random.Random(f"corpus:{seed}")
    vocab = _vocab(rng, 3000)
    rows: list[dict] = []
    originals: list[int] = []
    exact: list[int] = []
    near: list[int] = []
    junk: list[int] = []
    for doc_id in range(n_docs):
        r = rng.random()
        if originals and r < exact_share:
            src = rows[rng.choice(originals)]["text"]
            text = (src.upper() if rng.random() < 0.5 else src) + rng.choice(["", ".", "!", " ..."])
            exact.append(doc_id)
        elif originals and r < exact_share + near_share:
            toks = rows[rng.choice(originals)]["text"].split()
            for _ in range(max(1, len(toks) // 50)):
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            text = " ".join(toks)
            near.append(doc_id)
        elif r < exact_share + near_share + junk_share:
            text = " ".join(rng.choice(["#", "$$", "&&", "!!", "@@"]) for _ in range(rng.randint(5, 30)))
            junk.append(doc_id)
        else:
            n_tok = max(20, min(1200, int(rng.lognormvariate(4.8, 0.6))))
            toks = [
                rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab)
                for _ in range(n_tok)
            ]
            text = " ".join(toks)
            originals.append(doc_id)
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": "en",
            "source": f"src{doc_id % 20}",
            "n_chars": len(text),
        })
    plan = {"originals": originals, "exact": exact, "near": near, "junk": junk}
    return rows, plan


def write_corpus(rows: list[dict], path: str, row_groups: int) -> None:
    """Write ``rows`` as one parquet file with ``row_groups`` row groups,
    so scans split across cores."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]))
    pq.write_table(table, path, row_group_size=-(-len(rows) // row_groups))
