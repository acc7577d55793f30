"""Tests of the benchmark's own code (not of the engine).

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import tracing  # noqa: E402
import verify  # noqa: E402

SPEC = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


@pytest.mark.parametrize("make", [gen.replicate_tables, gen.gen_football])
def test_same_seed_same_bytes_other_seed_same_shape(tmp_path, make):
    a, b, c = (str(tmp_path / x) for x in "abc")
    ra, rb, rc = make(a, 7), make(b, 7), make(c, 8)
    assert ra == rb
    names = _files(a)
    assert names == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    # another seed: other bytes, same files, schemas and row counts
    assert ra.keys() == rc.keys()
    if make is gen.replicate_tables:
        assert ra == rc
    assert [n.replace("-", "") for n in names if not n.startswith("matches")] == [
        n.replace("-", "") for n in _files(c) if not n.startswith("matches")
    ]
    for n in names:
        if n.endswith(".parquet") and os.path.exists(os.path.join(c, n)):
            assert pq.read_schema(os.path.join(a, n)) == pq.read_schema(os.path.join(c, n))
            assert pq.ParquetFile(os.path.join(a, n)).metadata.num_rows == pq.ParquetFile(
                os.path.join(c, n)
            ).metadata.num_rows
    assert not all(filecmp.cmp(os.path.join(a, n), os.path.join(c, n), shallow=False)
                   for n in names if os.path.exists(os.path.join(c, n)))


def test_football_counts_are_consistent(tmp_path):
    exp = gen.gen_football(str(tmp_path), 3)
    fx = pd.read_csv(tmp_path / "fixtures.csv", dtype=str)
    assert len(fx) == exp["raw_fixture_rows"]
    dup_share = 1 - fx["match_id"].nunique(dropna=True) / len(fx)
    assert 0.4 < dup_share < 0.6  # FIXTURES.md: ~49 % duplicate match_id
    hist = pd.read_csv(tmp_path / "team_history.csv", dtype=str)
    per_team = hist.groupby(hist["home_team"].where(hist["is_home"] == "1", hist["away_team"])).size()
    assert (per_team >= 10).all()
    assert len(os.listdir(tmp_path / "matches")) == exp["feed_files"]


EVENTLOG = os.path.join(HERE, "testdata", "eventlog")


def test_event_log_parser_on_captured_log():
    jobs = tracing.parse_event_log(EVENTLOG)
    by_group = {}
    for j in jobs:
        by_group.setdefault(j["group"], []).append(j)
    assert set(by_group) == {"q:construct", "q:execute"}
    (ctl,) = by_group["q:construct"]
    assert ctl["description"] == "pass=0" and ctl["end"] >= ctl["submit"]
    ex = by_group["q:execute"]
    assert sum(j["stages"] for j in ex) >= 2
    assert sum(j["tasks"] for j in ex) >= 2
    assert sum(j["shuffle_write_bytes"] for j in ex) > 0
    assert sum(j["shuffle_read_bytes"] for j in ex) > 0
    assert sum(j["python_bytes"] for j in ex) > 0
    assert all(j["run_s"] >= 0 and j["cpu_s"] >= 0 for j in jobs)
    inside = tracing.jobs_within(jobs, ex[0]["submit"], ex[-1]["submit"])
    assert [j["job"] for j in inside] == [j["job"] for j in ex]


def test_self_time_subtracts_children():
    t = tracing.Tracer(True)
    with t.span("root"):
        with t.span("child"):
            pass
        with t.span("child"):
            pass
    st = tracing.self_time_by_name(t.spans)
    root = t.spans[0]
    kids = sum(s["end"] - s["start"] for s in t.spans[1:])
    assert st["root"] == pytest.approx(root["end"] - root["start"] - kids)
    assert tracing.Tracer(False).spans == [] and not tracing.Tracer(False).enabled


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_metric_names_and_limits():
    e2e, layer = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["bound"] == max(m["bound"] for m in e2e)


def test_headline_queries_come_from_bench_and_cover_every_family():
    import worker
    from bench import HEADLINE

    assert set(worker.FAMILY) <= set(HEADLINE)
    for fam in worker.FAMILIES:
        assert sum(f == fam for f in worker.FAMILY.values()) >= 2


def test_replica_keeps_sf001_shape(tmp_path):
    import pyarrow.compute as pc

    gen.replicate_tables(str(tmp_path / "r0"), 0)
    gen.replicate_tables(str(tmp_path / "r5"), 5)
    for name in ("lineitem", "documents", "embeddings"):
        src = pq.read_table(os.path.join(gen.SF001, f"{name}.parquet"))
        assert pq.read_table(tmp_path / "r0" / f"{name}.parquet").equals(src)
    docs = pq.read_table(os.path.join(gen.SF001, "documents.parquet"))
    rot = pq.read_table(tmp_path / "r5" / "documents.parquet")
    assert rot["doc_id"].equals(docs["doc_id"]) and rot["n_chars"].equals(docs["n_chars"])
    assert pc.utf8_length(rot["text"]).equals(pc.utf8_length(docs["text"]))
    assert rot["text"][0].as_py() != docs["text"][0].as_py()
    emb = pq.read_table(os.path.join(gen.SF001, "embeddings.parquet"))["embedding"][0].as_py()
    got = pq.read_table(tmp_path / "r5" / "embeddings.parquet")["embedding"][0].as_py()
    assert got == emb[5:] + emb[:5]


class _Result:
    """Just enough of a DataFrame for ``oracle_harness.compare``."""

    def __init__(self, columns, rows):
        self.columns = columns
        self.rows = rows

    def collect(self):
        return self.rows

    def limit(self, n):
        return _Result(self.columns, self.rows[:n])

    def toPandas(self):
        return pd.DataFrame(self.rows, columns=self.columns)


def test_verification_flags_a_corrupted_result():
    from tests.oracle_harness import compare

    oracle = "SELECT n_nationkey, n_name FROM nation"
    nation = pq.read_table(os.path.join(gen.SF001, "nation.parquet")).to_pandas()
    rows = [(int(k), n) for k, n in zip(nation["n_nationkey"], nation["n_name"])]
    cols = ["n_nationkey", "n_name"]
    assert compare(_Result(cols, rows[::-1]), oracle, gen.SF001) == []
    corrupted = [(k + (k == 3), n) for k, n in rows]
    assert compare(_Result(cols, corrupted), oracle, gen.SF001)
    assert compare(_Result(cols, rows[1:]), oracle, gen.SF001)
    assert compare(_Result(["n_nationkey", "name"], rows), oracle, gen.SF001)


def test_etl_checks_flag_corruption(tmp_path):
    exp = gen.gen_football(str(tmp_path), 4)
    feed = str(tmp_path / "matches")
    bronze = pq.read_table(feed).to_pandas()
    bronze["batch_id"] = 0
    assert verify.check_bronze(bronze, feed) == []
    bad = bronze.copy()
    bad.loc[5, "home_team"] = "Nobody FC"
    assert verify.check_bronze(bad, feed)
    assert verify.check_bronze(bronze.iloc[1:], feed)

    out = tmp_path / "out"
    out.mkdir()
    pd.DataFrame({"match_id": [str(i) for i in range(exp["future_fixtures"])]}).to_parquet(
        out / "part-0.parquet"
    )
    stats = {
        "fixtures_rows": exp["future_fixtures"],
        "fixtures_duplicates": 0,
        "n_teams": exp["teams"],
        "history_rows": exp["past_history_rows"],
    }

    def check(**changes):
        path = tmp_path / "stats.json"
        path.write_text(json.dumps({**stats, **changes}))
        return verify.check_pipeline(str(path), str(out), exp)

    assert check() == []
    assert check(fixtures_duplicates=3)
    assert check(n_teams=exp["teams"] + 2)
    pd.DataFrame({"match_id": ["extra"]}).to_parquet(out / "part-1.parquet")
    assert check()
