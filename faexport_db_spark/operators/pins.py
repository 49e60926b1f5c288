"""``unpin``: release the blocks of a ``localCheckpoint``."""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned_rdd(pin: DataFrame):
    """The JVM RDD that holds the blocks of ``pin``, a frame
    ``localCheckpoint`` returned (its analyzed plan is a ``LogicalRDD``);
    any other frame raises ``ValueError``."""
    plan = pin._jdf.queryExecution().analyzed()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError(f"not a localCheckpoint frame: its plan is a {plan.nodeName()}")
    return plan.rdd()


def unpin(pin: DataFrame) -> None:
    """Release the blocks of ``pin``, a frame ``localCheckpoint``
    returned; any other frame raises ``ValueError``.

    A pin cuts lineage: plans over it read its blocks from executor
    storage (memory, spilling to disk) instead of re-deriving them. The
    trade-off: a lost executor (dynamic allocation included) fails every
    plan that reads the pin instead of recomputing it. Nothing else
    frees a pin before a JVM GC lets the ContextCleaner drop its RDD,
    so a loop that pins every round releases the rounds it supersedes
    here. Release a pin only after every frame that reads it has been
    materialized (pinned eagerly, collected or written): a plan that
    reads a released pin fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.
    Never release a frame a caller passed in. The release does not
    block."""
    pinned_rdd(pin).unpersist(False)
