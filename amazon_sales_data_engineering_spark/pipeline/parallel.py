"""Run a layer's independent table loads at the same time.

A trickle batch is dozens of small Spark jobs whose cost is fixed
scheduling, not data, so a batch that runs them one after another leaves
the cores idle while each small query waits for the one before it
(Chukonu, VLDB 2021, reports the same per-job overhead dominating small
inputs). Loads that write different tables do not depend on each other:
submitted from separate threads, their jobs interleave on the shared
SparkSession. Callers guarantee that no two tasks of one call write the
same table.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from typing import TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def run_concurrently(
    spark: SparkSession, layer: str, tasks: dict[str, Callable[[], T]]
) -> dict[str, T]:
    """Run each task on its own thread and return the results by name, in
    the order given. Every Spark job a task starts carries the thread-local
    job group ``<layer>.<name>`` (e.g. ``dims.product``), so interleaved
    jobs stay attributable in the UI and the status REST API. If tasks
    fail, the first failure in the order given is raised once every task
    has finished."""
    sc = spark.sparkContext

    def tagged(name: str, task: Callable[[], T]) -> T:
        sc.setJobGroup(f"{layer}.{name}", f"{layer}.{name}")
        return task()

    with ThreadPoolExecutor(len(tasks), thread_name_prefix=layer) as pool:
        futures = {name: pool.submit(tagged, name, task) for name, task in tasks.items()}
    return {name: future.result() for name, future in futures.items()}
