"""Star-join assembly.

The reference assembles its fact with a chain of six inner equi-joins
against the dims (SURVEY.md §2.3 J6;
/root/reference/step_5_curated_to_consumption.py:547-566). On Spark the
right plan is a chain of **broadcast hash joins** — dims are orders of
magnitude smaller than the fact, so the fact never shuffles. ``star_join``
broadcasts every dim explicitly rather than trusting the size estimator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def star_join(fact: DataFrame, dims: Sequence[tuple[DataFrame, list[str]]]) -> DataFrame:
    """Inner-join ``fact`` against each ``(dim, using_cols)`` with broadcast
    hints. USING-style join keeps one copy of the key columns (matching the
    reference's column-list joins)."""
    out = fact
    for dim, keys in dims:
        out = out.join(F.broadcast(dim), keys, "inner")
    return out
