"""Bounded-state checkpointing with a cluster-reliability switch
(VERDICT r10 next #6).

Every iterative operator in the engine (graph loops, ANN beams, sketch
stores, LTR training) bounds its per-round state by checkpointing the
loop body — by default with ``localCheckpoint(eager=True)``, which
truncates lineage at executor-memory cost and zero IO.  That is the
right call on ``local[*]`` and on healthy clusters, but localCheckpoint
PINS the checkpointed blocks to specific executors: lose one executor
at hour 40 of a 100 TB job and every computation rooted in its blocks
dies unrecoverably (Spark cannot rebuild a truncated lineage).

The cluster form is RELIABLE ``checkpoint()`` to a fault-tolerant store
(HDFS/S3): slower per round (a write + read), but executor loss only
re-reads the checkpoint.  This module makes the choice a session-level
switch instead of a code change:

- env ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1``, or
- Spark conf ``spark.columnflow.reliableCheckpoint=true``

with the checkpoint location from ``SPARK_GRAFT_CHECKPOINT_DIR`` (or
``spark.columnflow.checkpointDir``), falling back to a local temp dir
(removed at process exit) so the switch is testable on one box.

Retention: reliable checkpoints are only garbage-collected when
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` is set AT
CONTEXT START (the ContextCleaner reads it once; it cannot be flipped
at runtime).  ``columnflow_spark.session.get_spark`` sets it; a
spark-submit deployment that enables the reliable switch must set the
same conf, otherwise each ``checkpoint_df`` call under the switch
leaves its RDD checkpoint on disk for the life of the job — unbounded
accumulation on exactly the long 100 TB runs the switch exists for.

Call sites keep method-chain syntax via ``DataFrame.transform``::

    visited = visited.transform(checkpoint_df)        # eager bounded state
    pv = pv.transform(checkpoint_df_lazy)             # lazy (plan-fused)
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def _use_reliable(spark) -> bool:
    env = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    if env is not None:
        return env.strip().lower() not in ("", "0", "false", "no")
    try:
        return (
            spark.conf.get("spark.columnflow.reliableCheckpoint", "false").lower()
            == "true"
        )
    except Exception:  # noqa: BLE001 - conf access on a stopping session
        return False


def _ensure_checkpoint_dir(spark) -> None:
    sc = spark.sparkContext
    if sc.getCheckpointDir() is not None:
        return
    path = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR") or spark.conf.get(
        "spark.columnflow.checkpointDir", None
    )
    if not path:
        # the one-box fallback is this process's own: gone at exit
        path = tempfile.mkdtemp(prefix="cf_reliable_ckpt_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    sc.setCheckpointDir(path)


def checkpoint_df(df: DataFrame, eager: bool = True) -> DataFrame:
    """Bound a loop body's state: lineage-truncating checkpoint, local
    (default) or reliable (under the session switch — the form that
    survives executor loss at real-cluster scale)."""
    if not _use_reliable(df.sparkSession):
        return df.localCheckpoint(eager=eager)
    _ensure_checkpoint_dir(df.sparkSession)
    return df.checkpoint(eager=eager)


def checkpoint_df_lazy(df: DataFrame) -> DataFrame:
    """The ``eager=False`` form for state that is materialized by the
    next action anyway (keeps the write out of the critical path)."""
    return checkpoint_df(df, eager=False)
