"""query_mix workload: the pinned registry queries over a seeded corpus.

One cold pass, then warm passes until ``--seconds`` have gone by (at
least three, so the median is robust to the first warm pass, which still
runs slower while the JIT settles), each in a seed-shuffled order; an
operation is one pass. A query's result is fetched to the client as
Arrow, which is what a user of the warehouse does, and every result is
checked: its digest must equal the DuckDB oracle's (or, for a query
without an oracle, the cold pass's).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from contextlib import nullcontext

from amazon_sales_data_engineering_spark.queries import REGISTRY

import oracle
from tablegen import write_tables

MIN_WARM_PASSES = 3

MIXES_JSON = os.path.join(os.path.dirname(os.path.abspath(__file__)), "mixes.json")


def pinned() -> list[str]:
    """The pinned query names, warehouse then curation."""
    with open(MIXES_JSON) as fh:
        mixes = json.load(fh)
    return mixes["warehouse"] + mixes["curation"]


def run(r) -> None:
    data = f"{r.work}/data/tables"
    os.makedirs(data)
    write_tables(data, r.seed)
    queries = [REGISTRY[name] for name in pinned()]  # a renamed query fails loudly
    rng = random.Random(r.seed)

    def execute(q, traced: bool):
        ctx = r.tracer.span(f"plans.{q.name}.s") if traced else nullcontext()
        t0 = time.perf_counter()
        try:
            with ctx:
                table = q.spark_fn(r.spark, data).toArrow()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted
            return time.perf_counter() - t0, f"error: {exc}".splitlines()[0]
        took = time.perf_counter() - t0
        return took, oracle.digest(table.column_names, oracle.arrow_rows(table))

    def one_pass(parity: int | None):
        """Run every query once. ``parity`` set: trace the queries whose
        pinned position has that parity, so across two passes each query
        runs once traced and once untraced."""
        order = list(queries)
        rng.shuffle(order)
        mark = r.counters.mark() if r.trace else None
        results = [(q.name, *execute(q, parity is not None and queries.index(q) % 2 == parity))
                   for q in order]
        wall = sum(took for _, took, _ in results)
        return results, wall, (r.counters.since(mark) if r.trace else None)

    cold, cold_wall, cold_counters = one_pass(0 if r.trace else None)
    r.metrics["cold_s"] = cold_wall
    r.engine("spark.cold.", cold_counters, cold_wall, 1)

    passes = []
    start = time.perf_counter()
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() - start < r.seconds:
        passes.append(one_pass(len(passes) % 2 if r.trace else None))

    # output checks: the cold pass against DuckDB, every warm result
    # against the cold one
    con = oracle.duck_for(data)
    try:
        expected = {}
        for q in queries:
            cold_digest = next(d for name, _, d in cold if name == q.name)
            expected[q.name] = oracle.oracle_digest(con, q.oracle) if q.oracle else cold_digest
    finally:
        con.close()
    for results, _, _ in [(cold, 0, None), *passes]:
        for name, _, got in results:
            r.check(got == expected[name], f"{name}: {got} != {expected[name]}")

    warm = [(name, took) for results, _, _ in passes for name, took, _ in results]
    r.warm_ops([wall for _, wall, _ in passes])
    for q in queries:
        r.metrics[f"plans.{q.name}.s"] = statistics.median(t for n, t in warm if n == q.name)
    if r.trace:
        counters = [c for _, _, c in passes]
        total = None if None in counters else {k: sum(c[k] for c in counters) for k in counters[0]}
        r.engine("spark.", total, sum(w for _, w, _ in passes), len(passes))
        if total is not None:
            r.metrics["spark.input_bytes_first_op"] = counters[0]["input_bytes"]
            r.metrics["spark.input_bytes_last_op"] = counters[-1]["input_bytes"]
        # overhead: per query, traced over untraced latency (paired)
        ratios = []
        for i, q in enumerate(queries):
            times = [t for results, _, _ in passes for n, t, _ in results if n == q.name]
            traced, plain = times[i % 2::2], times[1 - i % 2::2]
            ratios.append(statistics.median(traced) / statistics.median(plain))
        r.metrics["trace.overhead_frac"] = statistics.median(ratios) - 1
