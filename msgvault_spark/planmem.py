"""Driver-side release of a plan's storage that Spark only frees lazily.

Everything here is Py4J metadata traversal plus one unpersist call — no
jobs run.
"""

from __future__ import annotations


def unpersist_local_checkpoint(df, blocking: bool = False) -> bool:
    """Free a localCheckpoint'ed DataFrame's persisted blocks NOW.

    ``DataFrame.unpersist`` goes through the CacheManager and is a silent
    no-op for checkpoints: the blocks belong to the internal RDD behind
    the plan's ``LogicalRDD`` leaf, which only the ContextCleaner
    reclaims — after the JVM-side reference is garbage, i.e. Py4J GC
    lag. Iterative operators that supersede one round's checkpoint with
    the next call this instead, keeping in-flight storage at the current
    round, not every round ever produced. Returns True iff an RDD was
    actually unpersisted (False = not a checkpoint leaf; caller may fall
    back to ``DataFrame.unpersist`` for plain persisted frames)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return False
        plan.rdd().unpersist(blocking)
        return True
    except Exception:
        return False
