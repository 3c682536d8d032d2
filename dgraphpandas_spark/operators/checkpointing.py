"""Per-round lineage truncation for iterative operators.

Every iterative operator (pagerank / weighted pagerank / label
propagation / k-hop / connected-components dedup / the BPE merge loop)
truncates its lineage per round so plan depth stays O(1) across
iterations.  The mechanism is a property of the deployment, not of the
call, so it comes from the session: with a checkpoint directory set on
the SparkContext (``sc.setCheckpointDir`` — an HDFS/S3/DBFS path visible
to every executor) each truncation is a RELIABLE ``DataFrame.checkpoint``
whose files survive executor loss; with none set (local mode / single JVM)
it is ``localCheckpoint`` — executor-local blocks, fastest, but a lost
node loses them (PLANS.md §6).

Reliable checkpoint files live as long as the frame that owns them:
``get_spark`` sets ``spark.cleaner.referenceTracking.cleanCheckpoints``,
so once a round's frame is unreachable on the driver (Python reference
dropped, then a JVM garbage collection) Spark's context cleaner deletes
its ``rdd-*`` directory.  Without it every round of every iterative
operator kept its files for the life of the directory.
"""
from __future__ import annotations

from pyspark.sql import DataFrame


def truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.checkpoint(eager)`` when the session has a checkpoint dir,
    else ``df.localCheckpoint(eager)``."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
