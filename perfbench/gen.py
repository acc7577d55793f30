"""Seeded inputs for the benchmark.

Both functions write with NumPy/pyarrow and start no Spark session, so
the same seed always yields byte-identical files and building never
competes with the measured process.

- :func:`replicate_tables` writes the ten tables the query registry
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``) from the sf0.01 test data set checked in
  under ``perfbench/data/sf0.01``, through ``tools/scale_curve``'s
  semantics-preserving replica transforms with the seed choosing the
  rotation: document text alphabet-rotated by ``seed % 26`` (same
  length and token shape, other shingles) and embeddings cyclically
  rotated by ``seed % 16``. Key columns keep their sf0.01 values: one
  replica needs no key shift, and some registry entries read key
  values (the IVF default centroids are ``vec_id < 8``). Row counts,
  value domains and duplicate structure are those of sf0.01.
- :func:`gen_football` writes the paper's own pipeline inputs
  (FIXTURES.md §1-3): a raw fixtures CSV with ~49 % duplicate
  ``match_id``, a team-history CSV with dirty names and result
  spellings, and a daily ``matches`` parquet feed. It returns the
  counts a correct pipeline must reproduce.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF001 = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, os.path.dirname(HERE))


def _rng(seed: int, stream: int) -> np.random.Generator:
    # any integer seed, negative ones included, picks a stream
    return np.random.default_rng([seed & (2**64 - 1), stream])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def replicate_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write the seed's rotated replica of the sf0.01 tables under
    ``out_dir``; return ``{table: rows}``."""
    from tools.scale_curve import ALPHA, TABLES

    rot, shift = seed % 26, seed % 16
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in TABLES:
        t = pq.read_table(os.path.join(SF001, f"{name}.parquet"))
        if name == "documents":
            rotate = str.maketrans(ALPHA, ALPHA[rot:] + ALPHA[:rot])
            text = pa.array([None if x is None else x.translate(rotate) for x in t["text"].to_pylist()])
            t = t.set_column(t.schema.get_field_index("text"), "text", text)
        if name == "embeddings":
            vec = [None if v is None else v[shift:] + v[:shift] for v in t["embedding"].to_pylist()]
            col = pa.array(vec, t.schema.field("embedding").type)
            t = t.set_column(t.schema.get_field_index("embedding"), "embedding", col)
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# --------------------------------------------------------------------------
# football pipeline inputs (FIXTURES.md)
# --------------------------------------------------------------------------

# The pipeline's reference date: fixtures on/after it are "future",
# history rows on/before it are "past".
TODAY = dt.date(2025, 5, 15)

FOOTBALL_SIZES = {
    "teams": 40,  # canonical clubs
    "fixtures": 3000,  # distinct matches before duplication
    "history_per_team": 26,  # one match a week, ~6 months
    "feed_days": 10,  # daily matches files = micro-batches
    "feed_rows_per_day": 2500,
}

# Dirty spellings the engine's normalize_team_name maps back
# (scalars.DEFAULT_TEAM_MAPPING) — canonical name -> alias.
_ALIASES = {
    "Manchester United": "Man United",
    "Manchester City": "Man City",
    "Tottenham Hotspur": "Spurs",
    "Wolverhampton Wanderers": "Wolves",
    "Newcastle United": "Newcastle",
}
_LEAGUES = [
    ("Premier League", "England"),
    ("LaLiga", "Spain"),
    ("LigaPro Serie A, Primera Etapa", "Ecuador"),
    ("Champions League", "Europe"),
]
_RESULT_SPELLINGS = {"W": ["W", "Win", "win", "1"], "D": ["D", "draw", "Draw", "0.5"],
                     "L": ["L", "loss", "Lost", "0"]}


def _slug(name: str) -> str:
    return re.sub("[^a-z0-9]", "", name.lower())


def _dirty(rng: np.random.Generator, team: str) -> str:
    r = rng.random()
    if team in _ALIASES and r < 0.5:
        return _ALIASES[team]
    if r > 0.8:
        return f"{team} FC"
    return team


def gen_football(out_dir: str, seed: int) -> dict:
    """Write ``fixtures.csv``, ``team_history.csv`` and
    ``matches/matches_<day>.parquet`` under ``out_dir``; return the
    counts the pipeline must reproduce. Column names and types are
    the engine's own (``football_etl_spark.schemas``)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from football_etl_spark.schemas import FIXTURES, MATCHES, TEAM_HISTORY

    rng = _rng(seed, 2)
    s = FOOTBALL_SIZES
    os.makedirs(out_dir, exist_ok=True)
    teams = list(_ALIASES) + [f"Athletic Club {i:02d}" for i in range(s["teams"] - len(_ALIASES))]

    # fixtures: each distinct match appears 1-3 times (~49 % of raw rows
    # are duplicates of an earlier match_id); a few single-row matches
    # carry no match_id and must get a regenerated one
    fx_rows: list[list[str]] = []
    future_ids: set[str] = set()
    for m in range(s["fixtures"]):
        home, away = rng.choice(len(teams), 2, replace=False)
        day = TODAY + dt.timedelta(days=int(rng.integers(-20, 40)))
        league, country = _LEAGUES[int(rng.integers(0, len(_LEAGUES)))]
        copies = int(rng.choice([1, 2, 3], p=[0.34, 0.36, 0.30]))
        no_id = copies == 1 and rng.random() < 0.1
        mid = "" if no_id else str(10_000_000 + m)
        if day >= TODAY:
            future_ids.add(
                f"{day:%Y%m%d}_{_slug(teams[home])}_{_slug(teams[away])}" if no_id else mid
            )
        for c in range(copies):
            hh, mm = int(rng.integers(12, 22)), int(rng.choice([0, 15, 30, 45]))
            kickoff = [f"{hh:02d}:{mm:02d}", f"{day} {hh:02d}:{mm:02d}", "Unknown"][c % 3]
            fx_rows.append([
                mid, day.isoformat(), _dirty(rng, teams[home]), _dirty(rng, teams[away]),
                league, country, "" if rng.random() < 0.8 else "Stadium", kickoff,
                "Scheduled" if day >= TODAY else "Ended", str(int(rng.integers(1, 38))),
            ])
    order = rng.permutation(len(fx_rows))
    with open(os.path.join(out_dir, "fixtures.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(FIXTURES.fieldNames())
        w.writerows(fx_rows[i] for i in order)

    # team history: one match a week per team, ending a few days past
    # TODAY (those future rows must be dropped), dirty names/results
    hist_rows: list[list[str]] = []
    past_rows = 0
    for ti, team in enumerate(teams):
        start = TODAY - dt.timedelta(days=7 * (s["history_per_team"] - 2) + ti % 7)
        for k in range(s["history_per_team"]):
            day = start + dt.timedelta(days=7 * k)
            opp = teams[(ti + 1 + int(rng.integers(0, len(teams) - 1))) % len(teams)]
            is_home = int(rng.integers(0, 2))
            res = "WDL"[int(rng.integers(0, 3))]
            gf, ga = int(rng.integers(0, 5)), int(rng.integers(0, 5))
            season = f"{day.year}-{day.year + 1}" if day.month >= 8 else f"{day.year - 1}-{day.year}"
            mid = "" if rng.random() < 0.2 else f"{day:%Y%m%d}_{_slug(team)}_{_slug(opp)}"
            hist_rows.append([
                _dirty(rng, team), season, day.isoformat(), "Premier League",
                "Home" if is_home else "Away", _dirty(rng, opp),
                _RESULT_SPELLINGS[res][int(rng.integers(0, 4))], f"{gf}.0", f"{ga}.0",
                str(is_home), team if is_home else opp, opp if is_home else team, mid,
                f"https://fbref.com/en/matches/{_slug(team)}{k}",
            ])
            past_rows += day <= TODAY
    with open(os.path.join(out_dir, "team_history.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(TEAM_HISTORY.fieldNames())
        w.writerows(hist_rows)

    # daily matches feed (bronze grain): one parquet file per day
    feed = os.path.join(out_dir, "matches")
    os.makedirs(feed, exist_ok=True)
    schema = to_arrow_schema(MATCHES)
    feed_rows = 0
    n = s["feed_rows_per_day"]
    for d in range(s["feed_days"]):
        day = TODAY - dt.timedelta(days=s["feed_days"] - d)
        epoch = (day - dt.date(1970, 1, 1)).days * 86400
        secs = epoch + rng.integers(10, 23, n) * 3600 + rng.choice([0, 900, 1800, 2700], n)
        home = rng.integers(0, len(teams), n)
        away = (home + 1 + rng.integers(0, len(teams) - 1, n)) % len(teams)
        lg = rng.integers(0, len(_LEAGUES), n)
        t = pa.table(
            {
                "date": pa.array([day] * n, pa.date32()),
                "id": [str(20_000_000 + d * n + i) for i in range(n)],
                "home_team": [teams[i] for i in home],
                "away_team": [teams[i] for i in away],
                "league": [_LEAGUES[i][0] for i in lg],
                "country": [_LEAGUES[i][1] for i in lg],
                "start_timestamp": secs.astype(np.int64),
                "start_time": [f"{(x % 86400) // 3600:02d}:{(x % 3600) // 60:02d}" for x in secs],
                "status": np.array(["Ended", "Not started", "Postponed"])[rng.integers(0, 3, n)],
                "venue": ["" if v else "Stadium" for v in rng.random(n) < 0.7],
                "round": [str(r) for r in rng.integers(1, 39, n)],
                "source": np.array(["api", "browser", "fbref"])[rng.integers(0, 3, n)],
            },
            schema=schema,
        )
        _write(t, os.path.join(feed, f"matches_{day}.parquet"))
        feed_rows += n

    expected = {
        "raw_fixture_rows": len(fx_rows),
        "future_fixtures": len(future_ids),
        "teams": len(teams),
        "past_history_rows": past_rows,
        "feed_files": s["feed_days"],
        "feed_rows": feed_rows,
    }
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
