#!/usr/bin/env python
"""Headline-query benchmark.

Runs every registry query tagged ``bench`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``, forcing full execution through the noop sink
(no driver collect). Prints ONE compact JSON line LAST:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``

The driver records only a 2000-char tail of stdout, so the final line
must stay small (round-9 verdict #1: the round-8 line embedded
~10 KB of plan metrics and the driver's BENCH_r08.json came back
``parsed: null``). Emission contract, unit-tested in
tests/test_bench_emit.py:

- the LAST stdout line is the compact headline JSON (metric, value,
  unit, queries at millisecond resolution, sf, canaries) and stays
  under the budget a 2000-char tail can carry;
- everything heavyweight — per-query plan metrics (shuffle write
  bytes/records, scan bytes/records from the Spark stage API), their
  totals, and a redundant full-precision copy of the timings — goes to
  the SIDECAR file ``BENCH_PLAN_METRICS.json`` next to this script
  (override with $SPARK_GRAFT_BENCH_SIDECAR; ``--sf1`` runs write
  ``BENCH_SF1.json`` and honor only $SPARK_GRAFT_SF1_SIDECAR so one
  override can never clobber the other flavor's record), which
  ``tools/bench_gate.py`` reads.

Wall-clock on a shared host swings ±20% with contention (the round-7
variance saga: 44-50s sittings that A/B-flipped against the same
code); the plan-cost numbers are DETERMINISTIC for a fixed plan and
data, so a plan regression (lost pushdown, broadcast fell back to
shuffle, an extra exchange) is detectable from ONE run on a noisy
host. ``--gate PREV.json`` diffs the fresh sidecar against a previous
bench record in-process (same logic as ``tools/bench_gate.py``) and
exits nonzero on a plan regression — wiring the gate into the flow
(round-9 verdict #4).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import urllib.request

SIDECAR_DEFAULT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_PLAN_METRICS.json")
SF1_SIDECAR_DEFAULT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                   "BENCH_SF1.json")

#: The standing sf1 mini-bench set (round-9 verdict #5): the heaviest
#: seats by sf0.1 wall plus the maintained-index twins and the two
#: lifecycle composition gates. Purpose: a committed ABSOLUTE wall +
#: plan-metric record at 10x the bench corpus, so the round-9 bug class
#: (an O(partition²) frame that hangs only at sf1) is caught by a
#: standing record even for operators without a probe ceiling. One
#: measured run per seat — plan metrics are deterministic per plan, and
#: the wall column is a hang detector, not a microbenchmark.
SF1_BENCH = [
    "q1_pricing_summary",
    "graph_triangle_count",
    "graph_sssp_weighted",
    "pagerank_copurchase",
    "dsir_importance_ppm",
    "dedup_repeated_passages",
    "dedup_index_maintained_equiv",
    "ann_ivf_incremental_equiv",
    "dedup_index_lifecycle_e2e",
    "ann_index_lifecycle_e2e",
    # r12 breadth (round-11 verdict #9): the three heaviest non-bench
    # registry seats with fresh r11 optimizations, added so their wins
    # carry a standing absolute anchor (wall + plan metrics) at sf1.
    "dedup_lsh_recall_eval",
    "regression_theilsen_slope",
    "graph_clustering_coefficient",
]
# Headroom under the driver's 2000-char stdout tail: the tail may also
# catch a trailing newline / stray log line, and the bench set grows a
# few queries per round. tests/test_bench_emit.py fails the build when
# the projected line outgrows this, BEFORE the driver record breaks.
# r12: 1900 -> 1950 to carry the contention verdict fields (+37 chars
# worst case -> 1904 with all 58 seats at worst-case width); 50 chars
# of tail slack remain for a stray newline, which is all the slack the
# tail ever needed (the observed prefix catch is a bare "\n").
HEADLINE_BUDGET = 1950

#: Contention self-defense (round-11 verdict #6). Two driver sittings
#: in a row ran on a ~1.75-2.2x slower host and produced 49 phantom
#: per-query "regressions"; the canary already measured it, but nothing
#: SAID it. The anchor is the FIRST-canary reading of the round-10
#: healthy sitting (BENCH_r10.json, canary_first_sec=0.289) — the first
#: canary is the comparable one across sittings because it always runs
#: at the same point (cold JVM, post-JIT-warmup best-of-2, before any
#: bench query). The headline line carries
#: ``canary_ratio = canary_first_sec / 0.289`` and ``contended:
#: ratio >= CONTENDED_RATIO`` so a PERF comparison can weight or retry
#: the sitting instead of reading host slowness as 49 plan regressions.
#: Additions-only: no existing field changes meaning. The 1.4 threshold
#: splits the observed healthy sittings (0.29-0.37 -> ratio 1.0-1.28)
#: from the two poisoned ones (0.51-0.62 -> ratio 1.75-2.15).
#: The anchor was measured on ``local[32]`` (BENCH_r10.json ``cpus``:
#: SPARK_GRAFT_CPUS=32), and the canary's 32 tasks take longer on fewer
#: cores with no contention at all: the r11 8-core sitting read 0.622s.
#: So the verdict is only given at the anchor's core count; at any other
#: count ``contended`` is null (no anchor), never a false alarm.
ANCHOR_CANARY_FIRST_SEC = 0.289
ANCHOR_CPUS = 32
CONTENDED_RATIO = 1.4


def contention(canary_first_sec: float, cpus: int) -> tuple[float, bool | None]:
    """(canary_ratio, contended) for the headline line of a sitting on
    ``local[cpus]``. Both come from the ratio as printed (2 dp), so a
    reader recomputing the flag from the printed ratio always agrees with
    it; ``contended`` is None when ``cpus`` is not the anchor's."""
    ratio = round(canary_first_sec / ANCHOR_CANARY_FIRST_SEC, 2)
    return ratio, (ratio >= CONTENDED_RATIO if cpus == ANCHOR_CPUS else None)


#: NOTE on the 8-vs-32-core scaling probe at sf0.1 (round-11 verdict
#: #5): every bench seat is sub-3s there and bounded by the per-job
#: scheduling floor, and shuffle partitions correctly track
#: $SPARK_GRAFT_CPUS, so the low-core run pays LESS task overhead —
#: r11's 8-core sitting beat the 32-core one (49.4s vs 61.2s) with no
#: parallelism signal at all. Genuine scale signal lives in the sf1
#: record: run the scaling comparison via ``--sf1`` (BENCH_SF1.json)
#: where the heavy seats separate from the floor.


def _stages(spark) -> list[dict] | None:
    """Completed stages from the local UI's REST API.

    Returns None when the watermark is UNAVAILABLE (UI off, fetch
    failed/timed out) — distinct from a successful-but-empty listing.
    Callers must skip metric capture on None rather than treating it
    as "no stages": summing every stage since app start would record
    silently wrong plan metrics (round-8 ADVICE, bench.py:47).
    """
    base = spark.sparkContext.uiWebUrl
    if not base:
        return None
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/stages?status=complete"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())
    except Exception:  # noqa: BLE001
        return None


def _max_stage_id(spark) -> int | None:
    """Stage-id watermark, or None when the stage API is unreachable
    (degrade to ABSENT metrics, never wrong ones)."""
    stages = _stages(spark)
    if stages is None:
        return None
    return max((s["stageId"] for s in stages), default=-1)


def _metrics_since(spark, watermark: int | None) -> dict[str, int] | None:
    if watermark is None:
        return None
    stages = _stages(spark)
    if not stages:  # None (fetch failed) or [] (nothing ran?!) — skip
        return None
    new = [s for s in stages if s["stageId"] > watermark]
    if not new:
        return None
    return {
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
        "shuffle_write_records": sum(
            s.get("shuffleWriteRecords", 0) for s in new
        ),
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "input_records": sum(s.get("inputRecords", 0) for s in new),
        "n_stages": len(new),
    }


def headline_line(payload: dict) -> str:
    """The single driver-facing stdout line: compact separators, no
    plan metrics. Shared with tests/test_bench_emit.py."""
    slim = {k: v for k, v in payload.items()
            if k not in ("plan_metrics", "plan_totals",
                         "queries_full_precision", "phase_timings")}
    return json.dumps(slim, separators=(",", ":"))


def emit(payload: dict, sidecar_path: str = SIDECAR_DEFAULT) -> str:
    """Write the full payload (plan metrics + full-precision timings)
    to the sidecar, print the compact headline line LAST, return it."""
    with open(sidecar_path, "w") as fh:
        json.dump(payload, fh, indent=1)
    line = headline_line(payload)
    print(f"plan metrics + full-precision timings -> {sidecar_path}")
    print(line)
    return line


def _run() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--gate", metavar="PREV_BENCH_JSON", default=None,
                    help="after benching, diff plan metrics against this "
                         "previous bench/sidecar record; exit 1 on a plan "
                         "regression")
    ap.add_argument("--sf1", metavar="DIR", default=None,
                    help="run the standing sf1 mini-bench (SF1_BENCH heavy "
                         "seats, one measured run each) against DIR instead "
                         "of the full bench set; sidecar goes to "
                         "BENCH_SF1.json")
    args = ap.parse_args()

    sf_dir = args.sf1 or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from amazon_sales_data_engineering_spark.queries import bench_queries
    from amazon_sales_data_engineering_spark.session import get_spark

    spark = get_spark(app_name="asde-bench")
    spark.sparkContext.setLogLevel("WARN")

    def canary() -> float:
        """Fixed data-independent probe (32-task modular-sum over
        spark.range): measures raw scheduling+compute throughput of THIS
        sitting. Emitted first and last so a contended host is visible
        in the bench JSON itself — round 4 measured a ~1.2x uniform
        inflation from host contention that initially read as a
        regression. Compare canary values across rounds before trusting
        any whole-run ratio."""
        from pyspark.sql import functions as F

        def once() -> float:
            t0 = time.perf_counter()
            (
                spark.range(0, 20_000_000, 1, 32)
                .select((F.col("id") % 7).alias("m"))
                .groupBy("m")
                .count()
                .write.format("noop").mode("overwrite").save()
            )
            return time.perf_counter() - t0

        once()
        return round(min(once(), once()), 4)

    if args.sf1:
        from amazon_sales_data_engineering_spark.plans import REGISTRY

        missing = [n for n in SF1_BENCH if n not in REGISTRY]
        assert not missing, f"SF1_BENCH names not in registry: {missing}"
        bench_set = {n: REGISTRY[n] for n in SF1_BENCH}
    else:
        bench_set = bench_queries()

    canary_first = canary()
    timings: dict[str, float] = {}
    timings_full: dict[str, float] = {}
    plan_metrics: dict[str, dict] = {}
    phase_timings: dict[str, dict] = {}
    for name, q in sorted(bench_set.items()):
        def run_once() -> float:
            t0 = time.perf_counter()
            q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        if args.sf1:
            # sf1 mini-bench: ONE measured run — the seats are heavy
            # (minutes total), plan metrics are per-plan constants, and
            # the wall column exists to catch hangs, not 5% drifts.
            w = _max_stage_id(spark)
            best = run_once()
        else:
            # warm-up once (JIT/codegen/file listing), then best-of-2
            # measured; plan metrics from exactly the FINAL execution:
            # stage-id watermark before, stage-sum after (AQE replans
            # identically on identical data/conf, so these are per-plan
            # constants)
            run_once()
            t1 = run_once()
            w = _max_stage_id(spark)
            t2 = run_once()
            best = min(t1, t2)
        # millisecond resolution in the driver-facing line keeps 54+
        # queries inside the 2000-char tail; the sidecar keeps 4dp.
        timings[name] = round(best, 3)
        timings_full[name] = round(best, 4)
        pm = _metrics_since(spark, w)
        if pm is not None:
            plan_metrics[name] = pm
        if args.sf1:
            # per-phase decomposition for the composite lifecycle gates
            # (round-10 verdict #3): the gate functions record their
            # EAGER phases; the lazy final probe is the wall residual.
            from amazon_sales_data_engineering_spark.plans.streaming_ops import (  # noqa: PLC0415
                LAST_PHASE_TIMINGS,
            )

            ph = LAST_PHASE_TIMINGS.get(name)
            if ph:
                phase_timings[name] = dict(
                    ph,
                    probe_residual=round(max(best - sum(ph.values()), 0.0), 4),
                )
            print(f"  sf1 {name}: {best:.1f}s", flush=True)

    canary_last = canary()
    canary_ratio, contended = contention(
        canary_first, spark.sparkContext.defaultParallelism
    )
    total = round(sum(timings_full.values()), 4)
    payload = {
        "metric": ("sf1_mini_bench_total_sec" if args.sf1
                   else "headline_queries_total_sec"),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "canary_first_sec": canary_first,
        "canary_last_sec": canary_last,
        # contention verdict (round-11 verdict #6) — see the
        # ANCHOR_CANARY_FIRST_SEC comment for the anchor's provenance
        "canary_ratio": canary_ratio,
        "contended": contended,
        # sidecar-only extras (stripped from the headline line):
        "plan_metrics": plan_metrics,
        "plan_totals": {
            k: sum(pm[k] for pm in plan_metrics.values())
            for k in (
                "shuffle_write_bytes",
                "shuffle_write_records",
                "input_bytes",
                "input_records",
            )
        }
        if plan_metrics
        else {},
        "queries_full_precision": timings_full,
    }
    if phase_timings:
        payload["phase_timings"] = phase_timings
    spark.stop()

    rc = 0
    if args.gate:
        # gate BEFORE the headline print so its report lands above the
        # driver-facing last line, never after it.
        sys.path.insert(0, os.path.join(os.path.dirname(
            os.path.abspath(__file__)), "tools"))
        from bench_gate import diff_plan_metrics, load  # noqa: PLC0415

        old = load(args.gate)
        rc = diff_plan_metrics(old, payload)
    # Separate env overrides per bench flavor (round-10 ADVICE: with a
    # single override, round_close's sf1 step — which runs right after
    # the main bench — would clobber the headline sidecar record).
    if args.sf1:
        sidecar = os.environ.get("SPARK_GRAFT_SF1_SIDECAR",
                                 SF1_SIDECAR_DEFAULT)
    else:
        sidecar = os.environ.get("SPARK_GRAFT_BENCH_SIDECAR",
                                 SIDECAR_DEFAULT)
    emit(payload, sidecar)
    return rc


if __name__ == "__main__":
    sys.exit(_run())
