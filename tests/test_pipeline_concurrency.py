"""Concurrent table loads give the same catalog as sequential ones.

``run_pipeline`` loads the three countries' source and curated tables and
the six dimensions concurrently (``pipeline.parallel.run_concurrently``)
and records a batch's files in one ledger append. This test runs the same
corrected incremental batches over a generated raw tree twice — once as
shipped, once with ``run_concurrently`` replaced by a plain sequential map
— and requires:

- every catalog table to be equal between the two runs, all columns but
  the ledger's ``loaded_at``, compared without regard to row order;
- the ledger to hold each delivered file exactly once, under its
  country's source table;
- each batch to load exactly the files delivered for it, and a poll with
  nothing new to load none and start no job in any ``ingest.<cc>`` group;
- each batch to add exactly one data file to the ledger, and the fact
  watermark to hold one data file after each overwrite;
- every concurrent task's Spark jobs to carry its ``<layer>.<name>`` job
  group.

A second test pins the helper itself: results in input order, the first
failure raised only after every task has finished.
"""

from __future__ import annotations

import shutil
import sys
import threading
import time
from collections import Counter
from pathlib import Path

import pytest

from amazon_sales_data_engineering_spark.pipeline import config, consumption, curated, ingest
from amazon_sales_data_engineering_spark.pipeline.parallel import run_concurrently
from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline
from amazon_sales_data_engineering_spark.sources.ledger import LEDGER_TABLE

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
from rawgen import RawTree  # noqa: E402

SEED, ROWS, BATCHES = 3, 20, 2


def _drop_namespaces(spark) -> None:
    for ns in config.NAMESPACES:
        spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


@pytest.fixture
def empty_catalog(spark):
    _drop_namespaces(spark)
    yield spark
    _drop_namespaces(spark)


def _catalog(spark) -> dict[str, Counter]:
    out = {}
    for ns in config.NAMESPACES:
        for t in spark.catalog.listTables(ns):
            df = spark.table(f"{ns}.{t.name}")
            cols = [c for c in df.columns if c != "loaded_at"]
            out[f"{ns}.{t.name}"] = Counter(tuple(r) for r in df.select(*cols).collect())
    return out


def _data_files(spark, table: str) -> int:
    return len(spark.table(table).inputFiles())


def _run_batches(spark, root: str) -> dict[str, Counter]:
    """Batch 0 delivers date 0; batch 1 delivers date 1 and re-delivers
    date 0; then a poll. Returns the catalog."""
    _drop_namespaces(spark)
    shutil.rmtree(root, ignore_errors=True)
    tree = RawTree(root, SEED, ROWS, BATCHES)
    for i in range(BATCHES):
        new = tree.deliver(i) + (tree.redeliver(0) if i else [])
        loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
        assert loaded == {cc: sum(f.cc == cc for f in new) for cc in config.PROFILES}
        assert _data_files(spark, LEDGER_TABLE) == i + 1  # one file per batch
        assert _data_files(spark, consumption._WM_TABLE) == 1

    tracker = spark.sparkContext.statusTracker()
    groups = [f"ingest.{cc}" for cc in config.PROFILES]
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    assert run_pipeline(spark, tree.root, faithful=False, incremental=True) == dict.fromkeys(
        config.PROFILES, 0
    )
    assert all(set(tracker.getJobIdsForGroup(g)) <= before[g] for g in groups)

    ledger = spark.table(LEDGER_TABLE).collect()
    recorded = Counter((r.target_table, r.file_path.removeprefix("file:")) for r in ledger)
    assert recorded == Counter((config.source_table(f.cc), f.path) for f in tree.files)
    return _catalog(spark)


def test_concurrent_loads_equal_sequential(empty_catalog, tmp_path, monkeypatch):
    spark = empty_catalog
    root = str(tmp_path / "raw")
    concurrent = _run_batches(spark, root)
    groups = [f"ingest.{cc}" for cc in config.PROFILES]
    groups += [f"curated.{cc}" for cc in config.PROFILES]
    groups += [f"dims.{d.name}" for d in consumption.DIMS]
    tracker = spark.sparkContext.statusTracker()
    assert all(tracker.getJobIdsForGroup(g) for g in groups)

    layers = []

    def sequential(spark, layer, tasks):
        layers.append(layer)
        return {name: task() for name, task in tasks.items()}

    for module in (ingest, curated, consumption):
        monkeypatch.setattr(module, "run_concurrently", sequential)
    serial = _run_batches(spark, root)

    # every layer that runs concurrently ran through the sequential map
    assert layers == ["ingest", "curated", "dims"] * BATCHES + ["ingest"]
    assert concurrent.keys() == serial.keys()
    for table in concurrent:
        assert concurrent[table] == serial[table], table
    assert concurrent[consumption.DIMS[0].table]  # the star was built


def test_run_concurrently_keeps_order_and_waits_before_raising(spark):
    release = threading.Event()
    finished = []

    def slow():
        release.wait(30)
        time.sleep(0.2)  # still running when the failures are in
        finished.append("slow")
        return spark.sparkContext.getLocalProperty("spark.jobGroup.id")

    def fail(what):
        def task():
            release.set()
            raise ValueError(what)

        return task

    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, "t", {"a": slow, "b": fail("first"), "c": fail("second")})
    assert finished == ["slow"]  # raised only once the slow task was done

    out = run_concurrently(spark, "t", {"z": slow, "a": lambda: 1})
    assert out == {"z": "t.z", "a": 1} and list(out) == ["z", "a"]
