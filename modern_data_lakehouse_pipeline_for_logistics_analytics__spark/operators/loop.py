"""The checkpoint chain every iterative operator runs on.

An iterative DataFrame loop ``localCheckpoint``s its state each round:
the next round's plan references the previous round's frame (connected
components references it three times), so without a lineage cut the
logical plan -- and Catalyst's analysis time -- grows every round.  A
checkpoint is a persisted RDD that Spark's ContextCleaner does not free
while py4j still holds the plan objects, so the loop must release the
superseded ones itself, and only after a newer frame is materialized: a
lineage-cut frame cannot be recomputed from its parents.

:class:`CheckpointChain` owns that lifecycle for one operator call:

- ``push`` checkpoints a frame (lazily unless ``eager``) and tracks the
  checkpoint frame itself, never a projection over it.  Release and pin
  find the RDD through the frame's bare ``LogicalRDD`` plan, so tracking
  a ``.select()``/``.drop()`` view would make them silent no-ops.
- ``settle`` is called once an action has materialized the newest
  frame.  It releases every older frame.  Lazy checkpoints persist as a
  job computes through them, so one action settles every round pushed
  since the last one.
- Leaving the ``with`` block on an exception releases every frame the
  chain holds.  Leaving it normally first materializes a still-pending
  newest frame if older ones are held, releases the older ones, then pins
  the newest under the operator's own key with ``hold_pinned`` (the
  returned result reads it; ``release_caches()`` frees it), or releases
  it too when the chain has no key because the result lives on the
  driver.

:func:`fixpoint` runs the round loop of the operators that stop at a
fixpoint (step, check on a cadence, stop when converged).  Operators
keep their own step and convergence logic as callables; the loop and the
chain never branch on which operator calls them.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

from .dedup import _unpersist_checkpoint, hold_pinned


class CheckpointChain:
    """The localCheckpoint frames of one operator call (see module doc)."""

    def __init__(self, pin_key: str | None = None) -> None:
        self._pin_key = pin_key
        self._frames: list[DataFrame] = []

    def __enter__(self) -> "CheckpointChain":
        return self

    def push(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """Checkpoint ``df`` as the newest frame and return the checkpoint.
        An eager checkpoint is its own materializing action and settles."""
        frame = df.localCheckpoint(eager=eager)
        self._frames.append(frame)
        if eager:
            self.settle()
        return frame

    def settle(self) -> None:
        """The newest frame is materialized: release every older one."""
        for frame in self._frames[:-1]:
            _unpersist_checkpoint(frame)
        del self._frames[:-1]

    def __exit__(self, exc_type, exc, tb) -> None:
        frames, self._frames = self._frames, []
        final = None
        try:
            if exc_type is None and frames:
                if len(frames) > 1:  # the newest is pending over its parents
                    frames[-1].count()
                if self._pin_key is not None:
                    final = frames.pop()
        finally:
            for frame in frames:
                _unpersist_checkpoint(frame)
        if final is not None:
            hold_pinned(self._pin_key, final)


def fixpoint(
    chain: CheckpointChain,
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    converged: Callable[[DataFrame], bool],
    rounds: int,
    check_every: int = 1,
    view: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Run up to ``rounds`` rounds from ``state``, a frame of ``chain``.

    Each round pushes ``step(state)`` as a lazy checkpoint; the next
    round's state is ``view(frame)`` (the frame itself by default).  Every
    ``check_every``-th round and the last, ``converged(frame)`` runs the
    round's one action, which materializes every round since the previous
    check; the chain then settles, and the loop stops if it returned True.
    Returns the newest frame (``state`` itself when ``rounds < 1``).
    """
    frame = state
    for r in range(1, rounds + 1):
        frame = chain.push(step(state))
        state = frame if view is None else view(frame)
        if r % check_every == 0 or r == rounds:
            done = converged(frame)
            chain.settle()
            if done:
                break
    return frame
