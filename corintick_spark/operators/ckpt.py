"""Storage lifetime for eagerly localCheckpointed DataFrames.

``Dataset.unpersist()`` is a silent no-op on a localCheckpointed frame:
the checkpoint's blocks are owned by the underlying RDD (the Dataset was
never registered with the CacheManager). One rule governs their lifetime:

- an iterative loop releases each round's checkpoint with
  ``release_local_checkpoint`` once the next round has materialized, so a
  loop holds at most a round or two of blocks;
- a checkpoint that feeds a returned frame stays resident, and Spark's
  ContextCleaner frees it once nothing (Python or JVM) can reach it.

The ContextCleaner only hears of unreachable RDDs from a JVM GC, and a
session with a roomy heap and Spark's 30-minute
``spark.cleaner.periodicGC.interval`` can run a whole query sweep without
one (round 11: blocks piled up until medians degraded 10-60x). So every
checkpoint is taken through ``local_checkpoint``, which first runs
``collect_released`` whenever the session holds ``_SLACK`` more persisted
RDDs than the fewest it has held since the last collection. That bounds
the blocks of dropped frames in any session, with no help from the caller,
and never frees a frame that is still reachable, however many results are
held. (A GC cannot free checkpoints the SQL status store still pins: those
of its last ``spark.sql.ui.retainedExecutions`` executions.)
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame

# dropped checkpoints a session may hold before the next checkpoint
# collects them
_SLACK = 16
# fewest persisted RDDs seen since the last collection
_floor = 0


def collect_released(spark) -> None:
    """Python then JVM GC: lets the ContextCleaner see dropped frames and
    free their blocks (it does so asynchronously, within ~100 ms)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, after collecting dropped frames
    when the session has piled up ``_SLACK`` of them."""
    global _floor
    spark = df.sparkSession
    try:
        n = spark.sparkContext._jsc.getPersistentRDDs().size()
    except Exception:
        n = None  # py4j internals (e.g. Spark Connect) — periodic GC only
    if n is not None:
        _floor = min(_floor, n)
        if n > _floor + _SLACK:
            collect_released(spark)
            _floor = n
    return df.localCheckpoint(eager=True)


def release_local_checkpoint(df: DataFrame) -> None:
    """Best-effort immediate release of an eagerly localCheckpointed
    frame's storage blocks. After the call the frame cannot be evaluated
    again — only release frames whose consumers have all run. Safe no-op
    on anything else; falls back to the ContextCleaner if the internal
    plan shape is not the expected LogicalRDD (e.g. Spark Connect, future
    Spark versions)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # py4j internals — the ContextCleaner remains the fallback
