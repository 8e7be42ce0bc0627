"""Set operations with Snowpark-compatible semantics.

Snowpark ``DataFrame.union`` is SQL UNION — **deduplicating** — while Spark
``union`` is UNION ALL (SURVEY.md §2.7 U1; the reference unions the three
country curated tables at
/root/reference/step_5_curated_to_consumption.py:469). ``union_distinct``
preserves the reference semantics; the corrected profile's UNION ALL is
plain ``DataFrame.union`` (safe when rows carry unique surrogate keys).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_distinct(*dfs: DataFrame) -> DataFrame:
    """Positional UNION (dedup) of ≥1 DataFrames — Snowpark/SQL semantics.
    The distinct is one hash-aggregate over the union (map-side combinable).
    """
    return reduce(DataFrame.union, dfs).distinct()

