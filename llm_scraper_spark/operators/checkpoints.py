"""Tracked localCheckpoint for iterative operators.

``DataFrame.localCheckpoint`` persists an internal RDD (MEMORY_AND_DISK)
that is NOT registered with the SQL cache manager, so
``DataFrame.unpersist()`` is a silent no-op for it — an iterative loop
(connected components, PageRank) that checkpoints every round therefore
accumulates one round's worth of blocks per iteration for the lifetime of
the session. These helpers pair each checkpoint with the block-registry
ids it created so the loop can RELEASE superseded rounds once the next
round is materialized.

Releasing a checkpoint's blocks makes that DataFrame permanently
unusable (the lineage was truncated — there is nothing to recompute
from), so only release frames the loop will never touch again; the final
round's checkpoint is always left alive for the caller.

The id diff is taken around a single eager checkpoint call, so it is
exact as long as no other thread persists an RDD during that call; a
concurrent persist would be misattributed. ``run_wave`` takes its
checkpoints while its state-write threads are running jobs, and stays
exact because those threads only write parquet: they persist no RDD.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def _persistent_ids(sc) -> set[int]:
    return set(sc._jsc.getPersistentRDDs().keySet().toArray())


def local_checkpoint_tracked(df: DataFrame, eager: bool = True
                             ) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint(eager)`` plus the set of persistent-RDD ids the
    call registered (usually one)."""
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    ck = df.localCheckpoint(eager=eager)
    created = _persistent_ids(sc) - before
    return ck, created


def release_checkpoint(spark, ids: set[int]) -> None:
    """Free the blocks behind previously tracked checkpoint ids (no-op for
    ids already gone). Non-blocking unpersist — eviction happens async."""
    if not ids:
        return
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


@contextmanager
def released_on_exit(spark):
    """A list for tracked checkpoint id sets; every set appended to it is
    released when the block exits, on the error path too."""
    sink: list = []
    try:
        yield sink
    finally:
        release_checkpoint(spark, set().union(*sink))
