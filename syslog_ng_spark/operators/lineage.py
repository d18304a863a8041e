"""Lineage truncation for iterative / eager operators.

Iterative operators (connected_components' pointer jumping, patternize's
outlier iteration) and eager near-dup paths grow a per-iteration lineage
that must be cut or plans go exponential. ``localCheckpoint`` does that
but stores the blocks on EXECUTORS: losing one executor mid-run kills
the job, because truncated lineage cannot be recomputed. That is fine on
``local[N]`` (one JVM — if it dies, everything dies) but a guaranteed
restart on a multi-hour 100-TB cluster run with executor churn.

``truncate_lineage`` lets the session decide: it uses the RELIABLE
``df.checkpoint()`` (stored on the fault-tolerant checkpoint dir,
survives executor loss) whenever ``spark.sparkContext.setCheckpointDir``
has been called, and ``localCheckpoint`` otherwise — so a cluster
deployment opts in with one session call, and local runs keep the cheap
path. Operators carry no option of their own for it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def truncate_lineage(df: DataFrame) -> DataFrame:
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()
