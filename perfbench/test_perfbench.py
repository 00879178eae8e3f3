"""Self-test of the benchmark (not part of the engine's test suite).

    python3 -m pytest perfbench -q

The subprocess tests run ``run.py --scale tiny`` (sf0.001, a short
stream) and check the output contract: every metric of
``BENCHMARK.json`` printed with its unit, outputs checked, a wrong
expected hash driving ``ok_ratio`` below 1, and a non-zero exit when
the engine is absent. The rest test the harness's own pieces.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from checks import result_hash  # noqa: E402
from harness import self_times, tail  # noqa: E402
from ingest import expected_rows, row_digests  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload, trace, *extra, cwd=ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return proc


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_printed_with_unit(workload, trace):
    res = _result(_run(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    key = "end_to_end" if trace == 0 else "per_layer"
    want = {m["name"]: m["unit"] for m in SPEC[key]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    if trace == 0:
        assert res["metrics"]["ok_ratio"]["value"] == 1.0
        for name in want:
            assert res["metrics"][name]["value"] > 0, name


def test_wrong_expected_hash_lowers_ok_ratio(tmp_path):
    expected = json.loads((BENCH / "expected.json").read_text())
    name = next(n for n in expected["0.001"] if n.startswith("q06_"))
    expected["0.001"][name] = "0" * 64
    bad = tmp_path / "expected.json"
    bad.write_text(json.dumps(expected))
    res = _result(_run("olap_star", 0, "--expected", str(bad)))
    assert not res["correct"]
    assert res["failed"] == 1
    assert res["metrics"]["ok_ratio"]["value"] < 1.0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("data", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_star", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_tail_has_ten_samples_beyond():
    xs = list(range(1, 27))  # 26 samples -> p61, 10 above rank 16
    val, pct, n = tail(xs)
    assert (pct, n) == (61, 26)
    assert sum(1 for x in xs if x > val) >= 10
    assert tail(list(range(5))) == (4, 100, 5)


def test_self_time_subtracts_covered_children():
    spans = [
        {"id": 0, "parent": None, "layer": "bench", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "plans", "start": 1.0, "end": 5.0},
        {"id": 2, "parent": 0, "layer": "spark", "start": 4.0, "end": 9.0},
        {"id": 3, "parent": 1, "layer": "operators", "start": 2.0, "end": 3.0},
    ]
    st = self_times(spans)
    assert st["bench"] == pytest.approx(2.0)
    assert st["plans"] == pytest.approx(3.0)
    assert st["operators"] == pytest.approx(1.0)


def test_result_hash_ignores_row_and_column_order():
    a = result_hash(["x", "y"], [(1, 0.5), (2, None)])
    b = result_hash(["y", "x"], [(None, 2), (0.5, 1)])
    assert a == b
    assert a != result_hash(["x", "y"], [(1, 0.5), (2, 0.0)])


def test_expected_rows_apply_the_click_rules():
    ok = {"event_id": "evt-1", "event_type": "user_click", "ts_us": 1709622489250000,
          "session_id": "sess-1", "user_id": None, "click_type": "search",
          "page_url": "https://shop.example.com/", "device_type": "mobile",
          "product_id": None, "category": None}
    bad = {**ok, "event_id": "evt-2", "page_url": " ", "device_type": "smart_tv"}
    rows = expected_rows(pd.DataFrame([ok, bad])).to_dict("records")
    assert (rows[0]["violations"], rows[0]["is_valid"], rows[0]["quality_score"]) == ("", True, 1.0)
    assert [rows[0][k] for k in ("year", "month", "day", "hour")] == [2024, 3, 5, 7]
    assert rows[1]["violations"] == "invalid_device_type,invalid_url_format,empty_page_url"
    assert (rows[1]["n_violations"], rows[1]["is_valid"], rows[1]["quality_score"]) == (3, False, 0.4)


def test_row_digests_see_every_column():
    rows = expected_rows(pd.DataFrame([{
        "event_id": "evt-1", "event_type": "user_click", "ts_us": 1, "session_id": "s",
        "user_id": None, "click_type": "search", "page_url": "http://x", "device_type": "mobile",
        "product_id": None, "category": None}]))
    d = row_digests(rows).iloc[0]
    assert row_digests(rows.assign(user_id=float("nan"))).iloc[0] == d
    for col, v in (("hour", 1), ("is_valid", False), ("ts_us", 2), ("category", "x")):
        assert row_digests(rows.assign(**{col: v})).iloc[0] != d, col
