"""Unit tests for bench.py's ambient-calibration anchor math (pure
functions — no SparkSession needed)."""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import (  # noqa: E402
    _anchor_ratio,
    _prior_record,
    _record_path,
    _run_record,
)


def test_anchor_ratio_geometric_mean():
    cur = {"range_agg_sec": 0.30, "scan_agg_sec": 0.80}
    prior = {"anchor": {"start": {"range_agg_sec": 0.25, "scan_agg_sec": 0.50}}}
    r = _anchor_ratio(cur, prior)
    assert r == round(math.exp((math.log(0.30 / 0.25) + math.log(0.80 / 0.50)) / 2), 3)


def test_anchor_ratio_none_without_comparable_prior():
    cur = {"range_agg_sec": 0.30}
    assert _anchor_ratio(cur, {}) is None
    assert _anchor_ratio(cur, {"anchor": {"start": {}}}) is None
    assert _anchor_ratio(cur, {"anchor": {"start": {"range_agg_sec": 0}}}) is None
    # non-overlapping probe keys -> no comparable pair -> None
    assert (
        _anchor_ratio(cur, {"anchor": {"start": {"scan_agg_sec": 0.5}}}) is None
    )


def test_anchor_ratio_partial_overlap_uses_shared_keys():
    cur = {"range_agg_sec": 0.50, "scan_agg_sec": 1.0}
    prior = {"anchor": {"start": {"range_agg_sec": 0.25}}}
    assert _anchor_ratio(cur, prior) == 2.0


def test_anchor_ratio_end_probe_participates():
    """Round-8 verdict task: the end probe must enter the geomean, so
    a session that degrades after a fast start reads > 1."""
    prior = {
        "anchor": {
            "start": {"range_agg_sec": 1.0},
            "end": {"range_agg_sec": 1.0},
        }
    }
    cur = {"start": {"range_agg_sec": 1.0}, "end": {"range_agg_sec": 4.0}}
    assert _anchor_ratio(cur, prior) == 2.0  # geomean(1.0, 4.0)
    # halves pair with THEIR OWN half of the prior record
    prior2 = {
        "anchor": {
            "start": {"range_agg_sec": 1.0},
            "end": {"range_agg_sec": 4.0},
        }
    }
    assert _anchor_ratio(cur, prior2) == 1.0
    # end-only prior still adjudicates the end half
    assert (
        _anchor_ratio(
            {"end": {"range_agg_sec": 2.0}},
            {"anchor": {"end": {"range_agg_sec": 1.0}}},
        )
        == 2.0
    )


def test_prior_record_sf_gate(tmp_path):
    p = tmp_path / "BENCH_FULL.json"
    p.write_text('{"sf": 0.1, "queries": {"q": 1.0}}')
    assert _prior_record(str(p), 0.1)["queries"] == {"q": 1.0}
    assert _prior_record(str(p), 0.01) == {}
    assert _prior_record(str(tmp_path / "missing.json"), 0.1) == {}
    p.write_text("not json")
    assert _prior_record(str(p), 0.1) == {}


def test_record_path_keeps_other_core_counts_off_the_committed_record():
    full = "/bench/BENCH_FULL.json"
    committed = {"sf": 0.1, "cpus": 32}
    assert _record_path(full, 0.1, 32, committed) == full
    assert _record_path(full, 0.1, 4, committed) == "/bench/BENCH_FULL_c4.json"
    # the off-scale rule still wins, whatever the core count
    assert _record_path(full, 0.01, 32, committed) == "/bench/BENCH_FULL_sf0.01.json"
    assert _record_path(full, 0.001, 4, committed) == "/bench/BENCH_FULL_sf0.001.json"
    # no committed record at this sf, or one that predates `cpus`
    assert _record_path(full, 0.1, 4, {}) == full
    assert _record_path(full, 0.1, 4, {"sf": 0.1}) == full


def test_record_path_reads_cpus_through_prior_record(tmp_path):
    """End to end over the committed file: a 4-core run at sf0.1 next to
    a 32-core record goes to the sidecar."""
    full = tmp_path / "BENCH_FULL.json"
    full.write_text('{"sf": 0.1, "cpus": 32}')
    prior = _prior_record(str(full), 0.1)
    assert _record_path(str(full), 0.1, 4, prior) == str(tmp_path / "BENCH_FULL_c4.json")
    assert _record_path(str(full), 0.1, 32, prior) == str(full)


def test_run_record_compares_only_against_the_same_core_count(tmp_path):
    """The prior record is the file this run would write: a 4-core run
    next to a 32-core committed record reads (and writes) the c4
    sidecar, never the 32-core numbers."""
    full = tmp_path / "BENCH_FULL.json"
    side = tmp_path / "BENCH_FULL_c4.json"
    full.write_text('{"sf": 0.1, "cpus": 32, "queries": {"q": 32.0}}')
    assert _run_record(str(full), 0.1, 4) == (str(side), {})
    side.write_text('{"sf": 0.1, "cpus": 4, "queries": {"q": 4.0}}')
    path, prior = _run_record(str(full), 0.1, 4)
    assert path == str(side) and prior["queries"] == {"q": 4.0}
    path, prior = _run_record(str(full), 0.1, 32)
    assert path == str(full) and prior["queries"] == {"q": 32.0}
    # a committed record without `cpus` is claimed and compared by any run
    full.write_text('{"sf": 0.1, "queries": {"q": 8.0}}')
    assert _run_record(str(full), 0.1, 4) == (
        str(full), {"sf": 0.1, "queries": {"q": 8.0}}
    )
    # an off-scale sidecar from another core count is no prior either
    small = tmp_path / "BENCH_FULL_sf0.01.json"
    small.write_text('{"sf": 0.01, "cpus": 8, "queries": {"q": 1.0}}')
    assert _run_record(str(full), 0.01, 4) == (str(small), {})
    assert _run_record(str(full), 0.01, 8)[1]["queries"] == {"q": 1.0}
