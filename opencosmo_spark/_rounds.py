"""One round of an iterative operator: materialize its state, cut the
lineage, and read the round's convergence numbers from the same job.

The engine is lazy except for its iterative operators (connected
components, PageRank, BPE training, DSIR, ``curate_corpus`` in report
mode). Each calls ``checkpoint_round`` once per round and keeps its own
stop rule; without the cut, every round's plan would nest and re-run
all rounds before it.

Lineage policy: ``localCheckpoint`` keeps blocks on the executors that
computed them. On a cluster that can lose executors, swap it for
``checkpoint()`` against distributed storage, here and nowhere else.

Each checkpoint stays registered (its blocks stored) until the JVM
collects its frame, which a loop of many rounds does not wait for: a
loop hands its previous round's checkpoint to ``release_checkpoint``
as soon as the new round's exists, so it holds one at a time.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Observation


def checkpoint_round(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, dict[str, Any]]:
    """Eagerly checkpoint ``df``. Returns the checkpointed frame and the
    aliased aggregate ``metrics`` over its rows (``{}`` without any),
    observed on the checkpoint job itself: no second pass."""
    if not metrics:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    return df.observe(obs, *metrics).localCheckpoint(eager=True), obs.get


def release_checkpoint(ckpt: DataFrame | None) -> None:
    """Drop the stored blocks of ``ckpt``, a frame ``checkpoint_round``
    returned (None: nothing to drop). Nothing may read it after."""
    if ckpt is not None:
        ckpt._jdf.logicalPlan().rdd().unpersist(False)
