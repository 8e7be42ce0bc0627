"""bench.py emission contract (round-9 verdict #1): the driver records
only a 2000-char stdout TAIL, so the final line must be the compact
headline JSON and stay under budget; plan metrics live in a sidecar.
Round 8 broke this by embedding ~10 KB of plan metrics in the line —
BENCH_r08.json came back ``parsed: null``. Pure-Python (no Spark)."""

from __future__ import annotations

import io
import json
import sys
from contextlib import redirect_stdout

REPO = __file__.rsplit("/tests/", 1)[0]
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _payload() -> dict:
    """A payload shaped exactly like a real 54-query bench run, using
    the REAL registry names (so the budget check tracks real growth),
    with worst-case-width values."""
    from amazon_sales_data_engineering_spark.queries import bench_queries

    names = sorted(bench_queries())
    pm = {
        n: {
            "shuffle_write_bytes": 123_456_789,
            "shuffle_write_records": 12_345_678,
            "input_bytes": 987_654_321,
            "input_records": 87_654_321,
            "n_stages": 12,
        }
        for n in names
    }
    return {
        "metric": "headline_queries_total_sec",
        "value": 39.1234,
        "unit": "sec",
        # worst-case width: every timing needs all 3 decimals + 2 digits
        "queries": {n: 10.123 for n in names},
        "sf": 0.1,
        "canary_first_sec": 0.2468,
        "canary_last_sec": 0.1234,
        "canary_ratio": 12.34,  # worst-case width
        "contended": False,
        "plan_metrics": pm,
        "plan_totals": {
            "shuffle_write_bytes": 1,
            "shuffle_write_records": 1,
            "input_bytes": 1,
            "input_records": 1,
        },
        "queries_full_precision": {n: 10.1234 for n in names},
    }


def test_headline_line_under_budget():
    line = bench.headline_line(_payload())
    assert len(line) <= bench.HEADLINE_BUDGET, (
        f"headline line {len(line)} chars > budget {bench.HEADLINE_BUDGET}: "
        "the driver's 2000-char tail would truncate it (the round-8 "
        "parsed:null failure). Trim the bench set or slim the line."
    )
    # and it must NOT carry the heavyweight keys
    doc = json.loads(line)
    assert "plan_metrics" not in doc and "plan_totals" not in doc
    assert "queries_full_precision" not in doc
    assert doc["queries"]  # per-query seconds DO survive in the line


def test_tail_2000_parses_to_full_query_dict(tmp_path):
    """Simulate the driver: capture stdout, keep only the last 2000
    chars, parse the last line -> the FULL per-query dict must survive."""
    payload = _payload()
    sidecar = tmp_path / "sidecar.json"
    buf = io.StringIO()
    with redirect_stdout(buf):
        # noise a real run would print before the headline
        print("WARN some spark log line " * 20)
        bench.emit(payload, str(sidecar))
    tail = buf.getvalue()[-2000:]
    last = [ln for ln in tail.splitlines() if ln.strip()][-1]
    doc = json.loads(last)
    assert doc["metric"] == "headline_queries_total_sec"
    assert doc["queries"] == payload["queries"]
    assert doc["value"] == payload["value"]
    assert doc["canary_first_sec"] == payload["canary_first_sec"]


def test_sidecar_carries_plan_metrics(tmp_path):
    payload = _payload()
    sidecar = tmp_path / "sidecar.json"
    with redirect_stdout(io.StringIO()):
        bench.emit(payload, str(sidecar))
    doc = json.loads(sidecar.read_text())
    assert doc["plan_metrics"] == payload["plan_metrics"]
    assert doc["queries_full_precision"] == payload["queries_full_precision"]
    # the sidecar is itself a valid bench_gate input
    sys.path.insert(0, f"{REPO}/tools")
    from bench_gate import load

    assert load(str(sidecar))["plan_metrics"] == payload["plan_metrics"]


def test_watermark_none_skips_metrics():
    """ADVICE fix: an unavailable stage API must yield ABSENT metrics,
    never a since-app-start sum."""
    assert bench._metrics_since(None, None) is None


def test_contention_flag_thresholds():
    """Round-11 verdict #6: the r11 poisoned sitting (canary 0.507)
    must classify contended; the healthy r10/r12 sittings must not."""
    a = bench.ANCHOR_CANARY_FIRST_SEC
    assert 0.507 / a >= bench.CONTENDED_RATIO          # r11 poisoned
    assert 0.622 / a >= bench.CONTENDED_RATIO          # r11 8-core sitting
    assert 0.289 / a < bench.CONTENDED_RATIO           # r10 anchor
    assert 0.3229 / a < bench.CONTENDED_RATIO          # r12 baseline
    # the flag follows the ratio as printed (2 dp): 1.396 prints as 1.4,
    # the threshold itself, so it must read contended
    n = bench.ANCHOR_CPUS
    assert bench.contention(1.396 * a, n) == (1.4, True)
    assert bench.contention(1.394 * a, n) == (1.39, False)
    assert bench.contention(0.507, n) == (1.75, True)   # r11 poisoned
    # the anchor holds only at its own core count: an uncontended sitting
    # on fewer cores (r11 8-core, 0.622 s) has no verdict, not a false one
    assert bench.contention(0.622, 8) == (2.15, None)
    assert bench.contention(0.289, 4) == (1.0, None)
    # and the fields survive the headline line
    line = bench.headline_line(_payload())
    doc = json.loads(line)
    assert "canary_ratio" in doc and "contended" in doc


def test_sf1_bench_names_are_registered():
    """bench.py --sf1 runs a curated heavy-seat list; a registry rename
    must fail HERE, not an hour into the round-close ritual."""
    import bench

    from amazon_sales_data_engineering_spark.plans import REGISTRY

    missing = [n for n in bench.SF1_BENCH if n not in REGISTRY]
    assert not missing, missing
    assert len(bench.SF1_BENCH) >= 10
