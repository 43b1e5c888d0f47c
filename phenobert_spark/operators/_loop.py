"""Cache and lineage policy of the iterative graph operators.

A Spark fixpoint loop builds each round's state from the last one, so
left alone its logical plan grows every round (it doubles when the
state is read twice per round, which ran the driver out of heap on
q133), and every state it caches stays in executor storage until the
loop returns. :class:`Fixpoint` owns both costs, so an operator keeps
only its per-round arithmetic:

- ``pin`` holds a loop-invariant input (edge copy, degree table, node
  set) persisted until the loop ends, hash-partitioned on the join key
  when one is given. This is the one place the "partition or not"
  choice is made. A persisted frame keeps its output partitioning, so
  every round's join on that key reuses the one exchange. A
  ``localCheckpoint`` returns a plain RDD scan whose partitioning the
  planner no longer knows, so a checkpointed input would be shuffled
  again every round; that is why inputs are pinned, never checkpointed.
- ``carry`` takes the round's state. Every ``every``-th round it is
  checkpointed eagerly, which cuts the lineage, except in the last
  round of the budget, which ``result`` checkpoints anyway. Between
  checkpoints the state stays lazy (one AQE query per stretch of
  rounds), or, with ``cached=True``, persisted, for loops that probe
  the state every round and would otherwise compute it twice.
- After each checkpoint round, the states cached since the previous
  checkpoint are released. The checkpoint supersedes them and nothing
  read later depends on them, so nothing is recomputed, and at most
  ``every`` round states are ever cached at once.
- Leaving the ``with`` block, by return or by raise, releases every
  pin and cached state. ``result`` is the final eager checkpoint, so a
  returned frame never reads a released cache.

Each operator sets its own cadence, and says why, where it calls
:meth:`Fixpoint.rounds`.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame


class Fixpoint:
    """``with Fixpoint() as fp:`` around one iterative loop; the
    module docstring states the policy."""

    def __init__(self) -> None:
        self._pins: list[DataFrame] = []
        self._states: list[DataFrame] = []
        self._checkpoint = False

    def __enter__(self) -> Fixpoint:
        return self

    def __exit__(self, *exc: object) -> None:
        for df in reversed(self._pins + self._states):
            df.unpersist()

    def pin(self, df: DataFrame, *keys: str) -> DataFrame:
        """Persist a loop-invariant input until the loop ends,
        hash-partitioned on ``keys`` if any are given."""
        df = (df.repartition(*keys) if keys else df).persist()
        self._pins.append(df)
        return df

    def rounds(self, n: int, every: int) -> Iterator[int]:
        """Round numbers 0..n-1; every ``every``-th round but the last
        checkpoints its state and then releases the superseded ones."""
        for i in range(n):
            self._checkpoint = (i + 1) % every == 0 and i + 1 < n
            yield i
            if self._checkpoint:
                for df in self._states:
                    df.unpersist()
                self._states = []

    def carry(self, df: DataFrame, cached: bool = False) -> DataFrame:
        """The current round's state: checkpointed, cached or lazy."""
        if self._checkpoint:
            return df.localCheckpoint(eager=True)
        if cached:
            df = df.persist()
            self._states.append(df)
        return df

    def result(self, df: DataFrame) -> DataFrame:
        """The loop's output, checkpointed so it outlives the caches."""
        return df.localCheckpoint(eager=True)
