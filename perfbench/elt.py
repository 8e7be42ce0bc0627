"""elt workload: a faithful bulk load, then an incremental trickle.

1. Bulk: a seeded raw tree (3 countries, one format each) is loaded with
   ``run_pipeline(faithful=True)`` in the fresh session: ``cold_s``.
2. The catalog is emptied. A second seeded tree then arrives one order
   date per batch, each batch loaded with
   ``run_pipeline(faithful=False, incremental=True)``; the second batch
   also re-delivers the first batch's orders under new file names.
   Batches run until ``--seconds`` have gone by (at least two): their
   latencies are the warm operations.
3. One more call finds no new files (the polling cost).

Every table's row count is checked against DuckDB after the bulk load and
after the trickle; every call's loaded-file counts are checked as it runs.

With tracing on, each batch is composed from the same public calls
``run_pipeline`` makes, with a span around each call into a layer.
"""

from __future__ import annotations

import os
import time

from amazon_sales_data_engineering_spark.pipeline import config, consumption, curated, ingest
from amazon_sales_data_engineering_spark.pipeline.run import load_forex, run_pipeline
from amazon_sales_data_engineering_spark.sources.readers import read_sales_raw

import oracle
from rawgen import COUNTRIES, RawTree

BULK_DATES, BULK_ROWS = 6, 500  # rows per file: ~11,000 raw rows
TRICKLE_DATES, TRICKLE_ROWS = 24, 250
MIN_BATCHES = 2
SMALL_FILE_BYTES = 128 * 1024


def traced_pipeline(spark, tracer, root: str, faithful: bool, incremental: bool) -> dict[str, int]:
    """``run_pipeline`` composed from its public calls, one span per call."""
    with tracer.span("pipeline.run_s"):
        config.ensure_namespaces(spark)
        with tracer.span("sources.forex_s"):
            load_forex(spark, root, faithful)
        loaded = {}
        for cc in config.PROFILES:
            with tracer.span(f"pipeline.ingest.plan_s.{cc}"):
                fresh, start = ingest.plan_ingest(spark, root, cc)
            with tracer.span(f"pipeline.ingest.commit_s.{cc}"):
                loaded[cc] = ingest.commit_ingest(spark, fresh, start, cc)
        if any(loaded.values()):
            with tracer.span("pipeline.curated.run_s"):
                curated.run_curated(spark, faithful, incremental)
            with tracer.span("pipeline.consumption.dims_s"):
                sales = consumption.all_sales(spark, faithful)
                consumption.build_dims(spark, sales, faithful)
            if incremental:
                with tracer.span("pipeline.consumption.watermark_s"):
                    sales = consumption._apply_fact_watermark(spark, sales)
            with tracer.span("pipeline.consumption.fact_s"):
                consumption.build_fact(spark, sales, True)
            if incremental:
                with tracer.span("pipeline.consumption.watermark_s"):
                    consumption._record_fact_watermark(spark, sales)
    return loaded


def _files_by_country(files) -> dict[str, int]:
    return {cc: sum(1 for f in files if f.cc == cc) for cc in COUNTRIES}


def _data_files(warehouse: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(warehouse):
        for n in names:
            if not n.startswith((".", "_")):
                out[os.path.join(d, n)] = os.path.getsize(os.path.join(d, n))
    return out


def _dim_rows(spark) -> int:
    dims = ("region_dim", "product_dim", "promo_code_dim", "customer_dim", "payment_dim", "date_dim")
    return sum(spark.table(f"consumption.{d}").count() for d in dims
               if spark.catalog.tableExists(f"consumption.{d}"))


def _catalog_ok(spark, files, faithful: bool) -> tuple[bool, str]:
    expected = oracle.expected_elt_counts(files, faithful)
    got = {t: spark.table(t).count() for t in expected}
    return got == expected, f"table rows {got} != {expected}"


def run(r) -> None:
    spark = r.spark

    # -- 1. bulk load, cold -------------------------------------------------
    bulk = RawTree(f"{r.work}/data/bulk", r.seed, BULK_ROWS, BULK_DATES)
    for i in range(BULK_DATES):
        bulk.deliver(i)
    r.log(f"bulk tree written: {bulk.raw_rows} rows")
    mark = r.counters.mark() if r.trace else None
    t0 = time.perf_counter()
    loaded = run_pipeline(spark, bulk.root, faithful=True)
    r.metrics["cold_s"] = time.perf_counter() - t0
    r.log("bulk loaded")
    r.engine("spark.cold.", r.counters.since(mark) if r.trace else None, r.metrics["cold_s"], 1)
    ok, why = _catalog_ok(spark, bulk.files, True)
    r.check(ok and loaded == _files_by_country(bulk.files), f"bulk load: {loaded}, {why}")
    if r.trace:  # the raw parsers alone, on the bulk tree
        for fmt in ("csv", "parquet", "json"):
            t0 = time.perf_counter()
            read_sales_raw(spark, bulk.root, fmt).write.format("noop").mode("overwrite").save()
            r.metrics[f"sources.readers.read_{fmt}_s"] = time.perf_counter() - t0
    r.log("bulk checked")
    for ns in config.NAMESPACES:
        spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")
    r.log("catalog emptied")

    # -- 2. trickle ---------------------------------------------------------
    tree = RawTree(f"{r.work}/data/trickle", r.seed + 1, TRICKLE_ROWS, TRICKLE_DATES)
    warehouse = f"{r.work}/warehouse"
    batches, batch_ok, rounds = [], [], []
    fresh_files = listed_files = dim_new = dim_total = 0
    files_written = bytes_written = small_files = 0
    start = time.perf_counter()
    while len(batches) < TRICKLE_DATES and (
            len(batches) < MIN_BATCHES or time.perf_counter() - start < r.seconds):
        i = len(batches)
        new = tree.deliver(i) + (tree.redeliver(0) if i == 1 else [])
        if r.trace:
            before_files, before_dims = _data_files(warehouse), _dim_rows(spark)
            mark = r.counters.mark()
            r.tracer.op = "batch"
        t0 = time.perf_counter()
        if r.trace:
            loaded = traced_pipeline(spark, r.tracer, tree.root, False, True)
        else:
            loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
        batches.append(time.perf_counter() - t0)
        batch_ok.append(loaded == _files_by_country(new))
        if r.trace:
            rounds.append(r.counters.since(mark))
            written = [s for p, s in _data_files(warehouse).items() if p not in before_files]
            files_written += len(written)
            bytes_written += sum(written)
            small_files += sum(1 for s in written if s < SMALL_FILE_BYTES)
            fresh_files += sum(loaded.values())
            listed_files += len(tree.files)
            after_dims = _dim_rows(spark)
            dim_new += after_dims - before_dims
            dim_total += after_dims

    # -- 3. a poll that finds nothing new -------------------------------------
    t0 = time.perf_counter()
    loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
    r.metrics["pipeline.noop_run_s"] = time.perf_counter() - t0
    r.log("no-op poll done")
    r.check(not any(loaded.values()), f"no-op poll loaded {loaded}")
    ok, why = _catalog_ok(spark, tree.files, False)  # every batch's output
    for i, batch_loaded_ok in enumerate(batch_ok):
        r.check(ok and batch_loaded_ok, f"trickle batch {i}: {why}")

    r.log("trickle checked")
    r.warm_ops(batches)
    if r.trace:  # overhead: a traced poll against the untraced polls around it
        r.tracer.op = "noop"
        t0 = time.perf_counter()
        traced_loaded = traced_pipeline(spark, r.tracer, tree.root, False, True)
        traced_noop = time.perf_counter() - t0
        t0 = time.perf_counter()
        loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
        plain_noop = (time.perf_counter() - t0 + r.metrics["pipeline.noop_run_s"]) / 2
        r.check(not any(traced_loaded.values()) and not any(loaded.values()),
                f"extra no-op polls loaded {traced_loaded}, {loaded}")
        r.metrics["trace.overhead_frac"] = traced_noop / plain_noop - 1
        n = len(batches)
        for name, s in r.tracer.self_times(ops=("batch",)).items():
            r.metrics[name] = s / n
        total = None if None in rounds else {k: sum(c[k] for c in rounds) for k in rounds[0]}
        r.engine("spark.", total, sum(batches), n)
        if total is not None:
            r.metrics["spark.input_bytes_first_op"] = rounds[0]["input_bytes"]
            r.metrics["spark.input_bytes_last_op"] = rounds[-1]["input_bytes"]
        r.metrics["sources.sinks.files_written"] = files_written / n
        r.metrics["sources.sinks.bytes_written"] = bytes_written / n
        r.metrics["sources.sinks.small_file_frac"] = small_files / max(files_written, 1)
        r.metrics["sources.ledger.fresh_file_ratio"] = fresh_files / listed_files
        r.metrics["pipeline.consumption.dim_insert_ratio"] = dim_new / dim_total
