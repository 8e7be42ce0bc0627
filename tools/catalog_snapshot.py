#!/usr/bin/env python
"""Snapshot the ELT pipeline's catalog, to show that a change keeps its output.

    python tools/catalog_snapshot.py [ROOT] --seed 1 --out after.json
    python tools/catalog_snapshot.py /path/to/parent --seed 1 --out before.json
    python tools/catalog_snapshot.py --diff before.json after.json

ROOT is a checkout of this repository (default: the one holding this
script); the package and ``perfbench/rawgen`` are imported from it, so the
same script snapshots any commit. In a fresh temp warehouse it runs:

1. a faithful bulk load of ``BULK_DATES`` order dates (``run_pipeline``),
   then snapshots the catalog and empties it;
2. ``BATCHES`` corrected incremental batches, one order date each, the
   second also re-delivering the first date's files; then a poll that
   finds nothing new; then snapshots the catalog and empties it;
3. a corrected one-shot load of the bulk tree (``run_pipeline`` with
   ``faithful=False``), then snapshots the catalog a third time.

Per table it records the schema, the row count and an order-insensitive
digest of every row. The ledger's ``loaded_at`` is left out and the temp
directory's prefix is cut from every value, because both differ between
any two runs. Per ``run_pipeline`` call it records the loaded-file counts.
``--diff`` prints every difference between two snapshots and exits 1 if
there is any.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BULK_DATES, BULK_ROWS = 6, 40
BATCHES, BATCH_ROWS = 4, 30


def _tables(spark, namespaces, tmp: str) -> dict[str, dict]:
    out = {}
    for ns in namespaces:
        for t in sorted(spark.catalog.listTables(ns), key=lambda t: t.name):
            df = spark.table(f"{ns}.{t.name}")
            df = df.select(*[c for c in df.columns if c != "loaded_at"])
            rows = sorted(repr(tuple(r)).replace(tmp, "<tmp>") for r in df.collect())
            digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
            out[f"{ns}.{t.name}"] = {
                "schema": df.schema.simpleString(),
                "rows": len(rows),
                "digest": digest,
            }
    return out


def snapshot(root: str, seed: int) -> dict:
    sys.path[:0] = [root, os.path.join(root, "perfbench")]
    from amazon_sales_data_engineering_spark.pipeline.config import NAMESPACES
    from amazon_sales_data_engineering_spark.pipeline.run import run_pipeline
    from amazon_sales_data_engineering_spark.session import get_spark
    from rawgen import RawTree

    tmp = tempfile.mkdtemp(prefix="catalog-snapshot-")
    try:
        spark = get_spark(
            app_name="catalog-snapshot",
            conf={
                "spark.ui.enabled": "false",
                "spark.sql.warehouse.dir": f"{tmp}/warehouse",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        calls, tables = [], {}

        def drop() -> None:
            for ns in NAMESPACES:
                spark.sql(f"DROP DATABASE IF EXISTS {ns} CASCADE")

        bulk = RawTree(f"{tmp}/bulk", seed, BULK_ROWS, BULK_DATES)
        for i in range(BULK_DATES):
            bulk.deliver(i)
        calls.append(["bulk", run_pipeline(spark, bulk.root, faithful=True)])
        tables.update({f"bulk/{k}": v for k, v in _tables(spark, NAMESPACES, tmp).items()})
        drop()

        tree = RawTree(f"{tmp}/trickle", seed + 1, BATCH_ROWS, BATCHES)
        for i in range(BATCHES):
            tree.deliver(i)
            if i == 1:
                tree.redeliver(0)
            loaded = run_pipeline(spark, tree.root, faithful=False, incremental=True)
            calls.append([f"batch {i}", loaded])
        calls.append(["poll", run_pipeline(spark, tree.root, faithful=False, incremental=True)])
        tables.update({f"trickle/{k}": v for k, v in _tables(spark, NAMESPACES, tmp).items()})
        drop()

        calls.append(["corrected bulk", run_pipeline(spark, bulk.root, faithful=False)])
        tables.update({f"corrected/{k}": v for k, v in _tables(spark, NAMESPACES, tmp).items()})
        spark.stop()
        return {"seed": seed, "calls": calls, "tables": tables}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def diff(a: dict, b: dict) -> list[str]:
    out = []
    if a["calls"] != b["calls"]:
        out.append(f"loaded-file counts: {a['calls']} != {b['calls']}")
    for name in sorted(a["tables"].keys() | b["tables"].keys()):
        ta, tb = a["tables"].get(name), b["tables"].get(name)
        if ta is None or tb is None:
            out.append(f"{name}: only in {'second' if ta is None else 'first'} snapshot")
            continue
        out += [f"{name}: {k} {ta[k]} != {tb[k]}" for k in ta if ta[k] != tb.get(k)]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("root", nargs="?", default=os.path.dirname(HERE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", help="write the snapshot here (default: stdout)")
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.diff:
        docs = []
        for path in args.diff:
            with open(path) as fh:
                docs.append(json.load(fh))
        found = diff(*docs)
        print("\n".join(found) or f"identical: {len(docs[0]['tables'])} tables")
        return 1 if found else 0
    text = json.dumps(snapshot(os.path.abspath(args.root), args.seed), indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
