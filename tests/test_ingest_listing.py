"""Ingest picks its fresh files from a driver-side listing.

``pipeline.ingest`` lists each country's raw files, drops the paths the
ledger holds and parses only the rest, so:

- the ledger records each listed file once, in ``_metadata.file_path``'s
  percent-encoded form, also under a root whose name URIs encode;
- a file with no rows is loaded and recorded once, as COPY marks a 0-row
  file LOADED, and is never parsed again;
- a poll that finds nothing new starts no Spark job in any ``ingest.<cc>``
  job group.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from amazon_sales_data_engineering_spark.pipeline import config
from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline
from amazon_sales_data_engineering_spark.sources.ledger import LEDGER_TABLE
from amazon_sales_data_engineering_spark.sources.readers import list_sales_files

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "perfbench"))
from rawgen import IN_HEADER, RawTree  # noqa: E402

SEED, ROWS = 5, 12
INGEST_GROUPS = [f"ingest.{cc}" for cc in config.PROFILES]


def _drop_namespaces(spark) -> None:
    for ns in config.NAMESPACES:
        spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")


@pytest.fixture
def empty_catalog(spark):
    _drop_namespaces(spark)
    yield spark
    _drop_namespaces(spark)


def _run(spark, root: str) -> dict[str, int]:
    return run_pipeline(spark, root, faithful=False, incremental=True)


def _poll_starts_no_ingest_job(spark, root: str) -> bool:
    tracker = spark.sparkContext.statusTracker()
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in INGEST_GROUPS}
    loaded = _run(spark, root)
    started = {g: set(tracker.getJobIdsForGroup(g)) - before[g] for g in INGEST_GROUPS}
    return loaded == dict.fromkeys(config.PROFILES, 0) and not any(started.values())


def _ledger(spark) -> Counter:
    return Counter((r.target_table, r.file_path) for r in spark.table(LEDGER_TABLE).collect())


def _listed(spark, root: str) -> Counter:
    return Counter(
        (config.source_table(cc), path)
        for cc, p in config.PROFILES.items()
        for path in list_sales_files(spark, root, p.fmt)
    )


def _delivered(files) -> dict[str, int]:
    return {cc: sum(f.cc == cc for f in files) for cc in config.PROFILES}


def test_ledger_paths_match_file_metadata_under_an_encoded_root(empty_catalog, tmp_path):
    spark = empty_catalog
    root = str(tmp_path / "raw dir%41")  # a space, and a % that must not decode to "A"
    tree = RawTree(root, SEED, ROWS, 2)
    for i in range(2):
        new = tree.deliver(i) + (tree.redeliver(0) if i else [])
        assert _run(spark, root) == _delivered(new)
    assert _poll_starts_no_ingest_job(spark, root)

    ledger = _ledger(spark)
    assert ledger == _listed(spark, root)  # each listed file recorded once
    assert len(ledger) == len(tree.files)
    assert all("/raw%20dir%2541/" in path for _, path in ledger)
    for cc in config.PROFILES:
        table = config.source_table(cc)
        files = {r[0] for r in spark.table(table).select("_metadata_file_name").distinct().collect()}
        assert files and files <= {path for t, path in ledger if t == table}


def _deliver_empty_files(root: str, date: str, us_schema) -> None:
    """A header-only IN csv, a 0-row US parquet and an FR json ``[]``."""
    def folder(sub: str) -> str:
        path = f"{root}/sales/{sub}/date={date}"
        os.makedirs(path, exist_ok=True)
        return path

    with open(f"{folder('source=IN/format=csv')}/empty.csv", "w") as fh:
        fh.write(",".join(IN_HEADER) + "\n")
    pq.write_table(us_schema.empty_table(), f"{folder('source=US/format=parquet')}/empty.parquet")
    with open(f"{folder('source=FR/format=json')}/empty.json", "w") as fh:
        json.dump([], fh)


def _catalog_but_ledger(spark) -> dict[str, Counter]:
    out = {}
    for ns in config.NAMESPACES:
        for t in spark.catalog.listTables(ns):
            name = f"{ns}.{t.name}"
            if name != LEDGER_TABLE:
                out[name] = Counter(tuple(r) for r in spark.table(name).collect())
    return out


def test_empty_raw_files_are_loaded_once(empty_catalog, tmp_path):
    spark = empty_catalog
    root = str(tmp_path / "raw")
    tree = RawTree(root, SEED, ROWS, 2)
    delivered = tree.deliver(0)
    us_schema = pq.read_schema(next(f.path for f in delivered if f.cc == "us"))
    _deliver_empty_files(root, "2099-01-01", us_schema)
    assert _run(spark, root) == {cc: n + 1 for cc, n in _delivered(delivered).items()}
    assert _ledger(spark) == _listed(spark, root)
    assert all(
        spark.table(config.source_table(cc)).count() == ROWS for cc in config.PROFILES
    )
    assert _poll_starts_no_ingest_job(spark, root)

    # a batch of empty files only: recorded, and no other table changes
    before = _catalog_but_ledger(spark)
    _deliver_empty_files(root, "2099-01-02", us_schema)
    assert _run(spark, root) == dict.fromkeys(config.PROFILES, 1)
    assert _ledger(spark) == _listed(spark, root)
    assert _catalog_but_ledger(spark) == before
