"""Tests of the benchmark itself.

    python -m pytest perfbench -q

The correctness checks are exercised on hand-made outputs (no Spark);
the smoke runs drive the real command at a tiny scale and take a few
minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import feed  # noqa: E402
from perfbench.harness import Run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_layer_map_covers_every_per_layer_metric():
    with open(os.path.join(ROOT, "perfbench", "layer_map.json")) as f:
        layer_map = json.load(f)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    workloads = {w["name"] for w in SPEC["workloads"]}
    assert set(layer_map) == {m["name"] for m in SPEC["per_layer"]}
    for entry in layer_map.values():
        assert set(entry["moves"]) <= e2e
        assert set(entry["workloads"]) <= workloads


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "feed_live", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- correctness checks on hand-made outputs ---------------------------------


def _run(tmp_path) -> Run:
    return Run(str(tmp_path), "feed_live", 1, 1.0, False, 0.001)


def _changes(con) -> None:
    rows = []
    for i in range(200):
        etype = feed.datagen.EVENT_TYPES[i % 5]
        rows.append((i, 1_704_067_200_000 + 1000 * i, i % 7, etype, f'{{"k": {i % 13}}}'))
    con.execute("CREATE TABLE changes (event_id BIGINT, ts_ms BIGINT, user_id BIGINT, "
                "event_type VARCHAR, props VARCHAR)")
    con.executemany("INSERT INTO changes VALUES (?, ?, ?, ?, ?)", rows)


def _write_feed(con, path: str) -> None:
    """The feed table a correct pipeline would write, one file per user."""
    con.execute(f"""
        COPY (
            SELECT user_id, activity_type, make_timestamp(ts_ms * 1000) AS event_timestamp,
                   target_id, target_type, MAP(['primary_key_value'], [pk]) AS metadata,
                   user_id AS user_bucket
            FROM ({feed.EXPECTED_SQL})
        ) TO '{path}' (FORMAT PARQUET, PARTITION_BY (user_bucket))
    """)


def test_check_feed_accepts_a_correct_table(tmp_path):
    con = duckdb.connect()
    _changes(con)
    _write_feed(con, str(tmp_path / "feed"))
    run = _run(tmp_path)
    feed.check_feed(run, con, str(tmp_path / "feed"))
    assert run.failed == 0 and not run.problems


def test_check_feed_catches_a_dropped_batch_file(tmp_path):
    con = duckdb.connect()
    _changes(con)
    _write_feed(con, str(tmp_path / "feed"))
    victim = next(os.path.join(d, f) for d, _, fs in os.walk(tmp_path / "feed") for f in fs)
    os.remove(victim)
    run = _run(tmp_path)
    feed.check_feed(run, con, str(tmp_path / "feed"))
    assert run.failed > 0


def test_check_feed_catches_a_replayed_batch_file(tmp_path):
    con = duckdb.connect()
    _changes(con)
    _write_feed(con, str(tmp_path / "feed"))
    victim = next(os.path.join(d, f) for d, _, fs in os.walk(tmp_path / "feed") for f in fs)
    shutil.copy(victim, victim.replace(".parquet", "_copy.parquet"))
    run = _run(tmp_path)
    feed.check_feed(run, con, str(tmp_path / "feed"))
    assert run.failed > 0


def test_check_dead_letters_catches_a_lost_reason(tmp_path):
    con = duckdb.connect()
    _changes(con)
    dl = tmp_path / "dead"
    con.execute(f"""
        COPY (SELECT 'x' AS raw_value, reason, 0 AS _batch_id
              FROM (SELECT reason, unnest(range(n)) FROM ({feed.DEAD_LETTER_SQL}))
              WHERE reason <> 'unknown_table')
        TO '{dl}' (FORMAT PARQUET, PARTITION_BY (_batch_id))
    """)
    run = _run(tmp_path)
    feed.check_dead_letters(run, con, str(dl))
    assert run.failed > 0 and any("unknown_table" in p for p in run.problems)


class _Row:
    def __init__(self, user_id, ms):
        import datetime as dt

        self.user_id = user_id
        self.event_timestamp = dt.datetime.utcfromtimestamp(ms / 1000)


def test_page_ok_catches_wrong_pages():
    want = [5000, 4000, 3000]
    good = [_Row("7", ms) for ms in want]
    assert feed.page_ok(good, "7", want)
    assert not feed.page_ok(good, "7", [6000] + want[:2])  # a page off by one
    assert not feed.page_ok(good[::-1], "7", None)  # oldest first
    assert not feed.page_ok([_Row("8", 5000)] + good[1:], "7", None)  # another user's row


# -- smoke: the real command at a tiny scale ---------------------------------


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_emits_every_metric(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "4", "--trace", str(trace), "--scale", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    units = {m["name"]: m["unit"] for m in want}
    for name, m in result["metrics"].items():
        assert m["unit"] == units[name]
        assert isinstance(m["value"], float)
        if not trace:
            assert m["value"] > 0, name
