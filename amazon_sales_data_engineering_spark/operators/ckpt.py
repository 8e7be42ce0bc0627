"""Local checkpoints: evaluate a plan once, and release its storage.

``observed_checkpoint`` materialises a frame with an eager
``localCheckpoint`` whose job also computes aggregates over its rows
(``observe``), so a caller that needs both a count or a max and the rows
themselves runs the plan once instead of once per action.

Storage release:

``DataFrame.unpersist()`` routes through the SQL cache manager, which
tracks only ``persist()``/``cache()`` entries — a localCheckpointed
DataFrame's blocks belong to the checkpoint RDD, which the cache manager
has never heard of, so ``df.unpersist()`` on one is a silent no-op and
the blocks live until the RDD is GC'd on the driver and the
ContextCleaner gets around to it (round-7 ADVICE on
operators/similarity.py's k-center loop). For iterative operators that
hold one state snapshot per round, that lazy cleanup turns "O(1) copies
of the state" into "O(rounds) copies until a driver GC" — on a 100 TB
state that is the difference between fitting in executor storage memory
and evicting.

The checkpointed RDD is reachable from the DataFrame's analyzed plan
(``LogicalRDD.rdd``), so the fix is one py4j hop: unpersist THAT RDD.
Verified empirically: after ``localCheckpoint`` (eager or lazy),
``df.unpersist()`` leaves every block cached, this helper drops them
all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def observed_checkpoint(df: DataFrame, *metrics: Column) -> tuple[DataFrame, dict]:
    """``df`` materialised by an eager local checkpoint, and the named
    aggregates ``metrics`` over its rows, computed by the same job."""
    obs = Observation()
    rows = df.observe(obs, *metrics).localCheckpoint(eager=True)
    return rows, obs.get


def release_local_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Free a localCheckpointed DataFrame's storage blocks NOW.

    Unpersists the underlying checkpoint RDD (the analyzed plan's
    ``LogicalRDD.rdd``) instead of the DataFrame, which is what actually
    releases block-manager memory. Falls back to ``df.unpersist()`` (and
    ultimately ContextCleaner GC) if the plan isn't the expected
    LogicalRDD shape — callers pass exactly the DataFrame that
    ``localCheckpoint`` returned, so the fallback should never trigger.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
    except Exception:
        df.unpersist(blocking)
