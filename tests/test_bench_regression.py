"""The runtime-metrics regression gate (bench.check_runtime_regressions):
counter growth past 2x above the noise floor must trip, waivers must
annotate instead, and every committed BENCH_DETAIL_rNN.json snapshot
(and the chain between them) must carry no unwaived violations."""

from __future__ import annotations

import json
import re
from pathlib import Path

from bench import REGRESSION_RATIO, check_runtime_regressions

REPO_ROOT = Path(__file__).resolve().parents[1]

PREV = {
    "q_big_shuffle": {
        "shuffle_bytes_written": 10 << 20,
        "rows_scanned": 600_000,
        "spill_bytes": 0,
        "collects": 4,
    },
    "q_tiny": {
        "shuffle_bytes_written": 1024,  # under the 1 MiB floor
        "rows_scanned": 100,
        "collects": 4,
    },
    "q_methodology_change": {
        "shuffle_bytes_written": 10 << 20,
        "collects": 4,
    },
}


def test_3x_shuffle_growth_trips():
    new = {
        "q_big_shuffle": {
            "shuffle_bytes_written": 30 << 20,  # 3x: a BM25-class rescan
            "rows_scanned": 600_000,
            "spill_bytes": 0,
            "collects": 4,
        }
    }
    violations, waived = check_runtime_regressions(PREV, new, {})
    assert [v["query"] for v in violations] == ["q_big_shuffle"]
    assert violations[0]["metric"] == "shuffle_bytes_written"
    assert violations[0]["ratio"] == 3.0
    assert waived == []


def test_waiver_moves_violation_to_waived():
    new = {
        "q_big_shuffle": {
            "shuffle_bytes_written": 30 << 20,
            "collects": 4,
        }
    }
    violations, waived = check_runtime_regressions(
        PREV, new, {"q_big_shuffle": "intentional: oracle family widened"}
    )
    assert violations == []
    assert waived[0]["waiver"].startswith("intentional")


def test_growth_below_ratio_or_floor_passes():
    new = {
        "q_big_shuffle": {
            # 1.9x < REGRESSION_RATIO
            "shuffle_bytes_written": int((10 << 20) * 1.9),
            "rows_scanned": 600_000,
            "collects": 4,
        },
        "q_tiny": {
            # 100x but both sides under the noise floor
            "shuffle_bytes_written": 102_400,
            "rows_scanned": 10_000,
            "collects": 4,
        },
    }
    violations, _ = check_runtime_regressions(PREV, new, {})
    assert violations == []
    assert REGRESSION_RATIO == 2.0


def test_collect_count_change_suppresses_compare():
    """Counters only have a stable meaning under the same collect count
    (accumulators grow across repeats while shuffle-stage reuse skips map
    stages) — a methodology change must not read as a regression."""
    new = {
        "q_methodology_change": {
            "shuffle_bytes_written": 100 << 20,
            "collects": 1,
        }
    }
    violations, waived = check_runtime_regressions(PREV, new, {})
    assert violations == [] and waived == []


def test_committed_bench_detail_has_no_unwaived_violations():
    # Round snapshots, oldest first. BENCH_DETAIL.json itself is bench.py's
    # gitignored working record and is never committed.
    rounds = sorted(
        (int(m.group(1)), p)
        for p in REPO_ROOT.glob("BENCH_DETAIL_r*.json")
        if (m := re.fullmatch(r"BENCH_DETAIL_r(\d+)\.json", p.name))
    )
    details = [(p.name, json.loads(p.read_text())) for _, p in rounds]
    assert details, "no committed BENCH_DETAIL_rNN.json snapshot to check"
    for name, detail in details:
        reg = detail.get("runtime_regressions", {"violations": []})
        assert reg["violations"] == [], (
            f"{name} records unwaived runtime regressions — fix the "
            "plan or waive with a reason in BENCH_ALLOWED_REGRESSIONS.json: "
            f"{reg['violations']}"
        )
    # Re-derive the claim from the committed counters: the comparison
    # bench.emit runs against its baseline, over each same-sf round pair.
    allowed = json.loads(
        (REPO_ROOT / "BENCH_ALLOWED_REGRESSIONS.json").read_text()
    )
    for (prev_name, prev), (new_name, new) in zip(details, details[1:]):
        if prev.get("sf") != new.get("sf"):
            continue
        violations, _ = check_runtime_regressions(
            prev["runtime_metrics"], new["runtime_metrics"], allowed
        )
        assert violations == [], (
            f"{prev_name} -> {new_name} shows unwaived runtime regressions "
            "— fix the plan or waive with a reason in "
            f"BENCH_ALLOWED_REGRESSIONS.json: {violations}"
        )
