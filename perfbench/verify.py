"""Output checks of the etl workload. They run after the timed passes,
never inside them. Query results are checked by the repository's own
``tests.oracle_harness.compare``."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq


def check_bronze(bronze_pdf, feed_dir: str) -> list[str]:
    """Bronze read-back equality: the landed rows, minus the
    ``batch_id`` partition column, are exactly the feed's rows."""
    feed = pq.read_table(feed_dir).to_pandas()
    cols = sorted(feed.columns)
    if sorted(c for c in bronze_pdf.columns if c != "batch_id") != cols:
        return [f"bronze columns {sorted(bronze_pdf.columns)} != feed columns {cols}"]
    got = sorted(map(tuple, bronze_pdf[cols].astype(str).itertuples(index=False)))
    want = sorted(map(tuple, feed[cols].astype(str).itertuples(index=False)))
    if len(got) != len(want):
        return [f"bronze holds {len(got)} rows, the feed {len(want)}"]
    bad = sum(a != b for a, b in zip(got, want))
    return [f"{bad} bronze rows differ from the feed"] if bad else []


def check_pipeline(stats_path: str, out_dir: str, expected: dict) -> list[str]:
    """The pipeline's stats JSON and wide parquet output against the
    generator's known counts: one output row per distinct future
    fixture, no duplicate match_id left, every canonical team recovered
    from its dirty spellings, every past history row kept."""
    with open(stats_path) as f:
        stats = json.load(f)
    problems = []
    want = {
        "fixtures_rows": expected["future_fixtures"],
        "fixtures_duplicates": 0,
        "n_teams": expected["teams"],
        "history_rows": expected["past_history_rows"],
    }
    for key, value in want.items():
        if stats.get(key) != value:
            problems.append(f"stats[{key!r}] = {stats.get(key)!r}, expected {value!r}")
    rows = pq.read_table(out_dir).num_rows if os.path.isdir(out_dir) else -1
    if rows != expected["future_fixtures"]:
        problems.append(f"output holds {rows} rows, expected {expected['future_fixtures']}")
    return problems
