"""Custom Python Data Source (Spark 4 DataSource API): a deterministic
partitioned synthetic-rows source.

The reference extends its engine's input surface with declarative
FILE FORMAT + stage objects (/root/reference/Snowflake Worksheets/
4. Common Schema.sql:5-23); Spark's native analogue for "teach the
engine a new input kind" is the Python Data Source API — a DataSource
subclass registered on the session and addressed as
``spark.read.format("synthetic_rows")``. This module implements one
end-to-end: schema declaration, option handling, and PARTITIONED reads
(``partitions()`` returns one InputPartition per row-range, so a
1000-executor cluster scans ranges in parallel exactly like any file
source — the generator never funnels through the driver).

Rows are a pure function of the row id (multiplicative-hash amount,
modular bucket), so any engine can predict the full relation — which is
what makes the source oracle-gateable.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

#: Knuth's multiplicative hash constant (2^32 / phi), also used by the
#: deterministic samplers in plans/corpus_ops.py.
_MULT = 2654435761
_MOD = 4294967296


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class SyntheticRowsReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = max(1, int(options.get("n_parts", 8)))
        self.n_buckets = max(1, int(options.get("n_buckets", 10)))

    def partitions(self):
        step = -(-self.n_rows // self.n_parts)  # ceil
        return [
            _RangePartition(lo, min(lo + step, self.n_rows))
            for lo in range(0, self.n_rows, step)
        ]

    def read(self, partition: _RangePartition):
        nb = self.n_buckets
        for i in range(partition.start, partition.end):
            h = (i * _MULT) % _MOD
            yield (i, h % nb, h % 100000)


class SyntheticRowsDataSource(DataSource):
    """``spark.read.format("synthetic_rows").option("n_rows", N)`` →
    (id BIGINT, bucket INT, amount_cents BIGINT)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_rows"

    def schema(self) -> str:
        return "id bigint, bucket int, amount_cents bigint"

    def reader(self, schema):
        return SyntheticRowsReader(self.options)


def register_synthetic_source(spark) -> None:
    """Idempotently register the source on the session."""
    spark.dataSource.register(SyntheticRowsDataSource)


class SyntheticRowsStreamReader(DataSourceStreamReader):
    """Offset-tracked micro-batch reader over the same deterministic row
    space: each micro-batch advances the row cursor by ``rows_per_batch``
    until ``n_rows`` is exhausted. Offsets are plain dicts (the engine
    journals them in the checkpoint log), so recovery resumes exactly —
    the same contract a Kafka reader honors with (topic, partition,
    offset) tuples."""

    def __init__(self, options) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.rows_per_batch = max(1, int(options.get("rows_per_batch", 100)))
        self.n_buckets = max(1, int(options.get("n_buckets", 10)))

    def initialOffset(self):
        return {"pos": 0}

    def latestOffset(self):
        # One planning call per micro-batch: advance the cursor by one
        # batch quantum — simulating an unbounded source where new data
        # keeps arriving. NOTE: Trigger.AvailableNow snapshots
        # latestOffset ONCE, so it drains exactly one quantum; drive
        # multi-batch consumption with a processingTime trigger
        # (tests/test_pysource.py) the way a live deployment would.
        cur = getattr(self, "_cur", 0)
        self._cur = min(cur + self.rows_per_batch, self.n_rows)
        return {"pos": self._cur}

    def partitions(self, start, end):
        # Restart safety. After recovery the fresh reader's in-memory
        # cursor starts at 0, so its first latestOffset() can fall
        # BEHIND the journaled committed offset (e.g. committed 500,
        # fresh latestOffset 100). Spark journals that 100 as a batch
        # end and later uses it as a batch START, so clamping the
        # cursor alone is not enough — the follow-up batch (100, 600)
        # would re-emit rows 100-500 that were output before the
        # restart. Track a high-water mark of rows actually handed out:
        # the planned START of every batch is by construction already
        # durable (it is a journaled previous end), so hwm rises to
        # each lo, and the emitted range's lower bound is clamped to
        # hwm. Post-restart this plans exactly (500, 600). A replay of
        # a journaled-but-uncommitted batch re-plans with the SAME
        # (start, end) pair before any further lo has advanced hwm, so
        # failed-batch replay (at-least-once re-run into the sink's
        # dedup) still emits in full.
        lo, hi = int(start["pos"]), int(end["pos"])
        hwm = max(getattr(self, "_hwm", 0), lo)
        self._hwm = hwm
        self._cur = max(getattr(self, "_cur", 0), lo, hi)
        lo2 = max(lo, hwm)
        if hi <= lo2:
            return []
        self._hwm = hi
        return [_RangePartition(lo2, hi)]

    def read(self, partition: _RangePartition):
        nb = self.n_buckets
        for i in range(partition.start, partition.end):
            h = (i * _MULT) % _MOD
            yield (i, h % nb, h % 100000)

    def commit(self, end):
        # Clamp the planning cursor to the committed position so the
        # cursor can never regress behind the journal, whichever callback
        # the engine happens to invoke first after a restart.
        self._cur = max(getattr(self, "_cur", 0), int(end["pos"]))


def _streamReader(self, schema):
    return SyntheticRowsStreamReader(self.options)


# attach (kept out of the class body so the batch-only story above reads
# standalone; Spark looks the method up by name either way)
SyntheticRowsDataSource.streamReader = _streamReader
