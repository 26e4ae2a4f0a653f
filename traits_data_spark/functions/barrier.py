"""Eager lineage-cut barriers with a cluster-reliability escape hatch.

The engine truncates lineage at a handful of chain barriers (curation
gate/dedup/survivor sets, connected-components edge iterations, BPE
vocab tables): each barrier materializes a frame ONCE and replaces a
multi-megabyte analyzed plan with a leaf, which both deduplicates the
upstream work across consumers and keeps driver-side re-analysis cost
flat (guide §3.3 / §5).

``DataFrame.localCheckpoint()`` is the right default in local mode and
for short-lived jobs: no filesystem round-trip, blocks live in the
executors' block managers. Its documented hazard at cluster scale is
that blocks are EXECUTOR-LOCAL — lose an executor and the job fails,
because the truncated lineage cannot recompute them. For long 100 TB
runs set ``SPARK_GRAFT_BARRIER=reliable``: barriers then use
``DataFrame.checkpoint()`` against the application's checkpoint
directory (``SPARK_GRAFT_CHECKPOINT_DIR`` or a pre-set
``setCheckpointDir``), which survives executor loss at the cost of one
write+read through the checkpoint filesystem per barrier. A context
pins one checkpoint directory for its lifetime, so when it already has
one that differs from ``SPARK_GRAFT_CHECKPOINT_DIR`` the pinned one is
used and a warning names both. Both modes
are eager and semantically identical — same rows, same downstream
plans — so the toggle never changes results, only fault tolerance.
"""

from __future__ import annotations

import os
import warnings

from pyspark import SparkContext
from pyspark.sql import DataFrame

BARRIER_MODE_ENV = "SPARK_GRAFT_BARRIER"
CHECKPOINT_DIR_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"


def barrier(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and return a lineage-truncated frame.

    ``SPARK_GRAFT_BARRIER`` unset/``local`` → ``localCheckpoint()``
    (executor-local blocks; fastest, not failure-tolerant).
    ``SPARK_GRAFT_BARRIER=reliable`` → ``checkpoint()`` to the
    checkpoint directory (``SPARK_GRAFT_CHECKPOINT_DIR`` is consulted
    when the context has none set, and a warning is issued when the
    context has a different one), surviving executor loss.
    """
    mode = os.environ.get(BARRIER_MODE_ENV, "local")
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        ckdir = os.environ.get(CHECKPOINT_DIR_ENV)
        pinned = sc.getCheckpointDir()
        if pinned is None:
            if not ckdir:
                raise RuntimeError(
                    f"{BARRIER_MODE_ENV}=reliable needs a checkpoint "
                    f"directory: set {CHECKPOINT_DIR_ENV} or call "
                    "sparkContext.setCheckpointDir() first"
                )
            sc.setCheckpointDir(ckdir)
        elif ckdir and not _pinned_under(sc, pinned, ckdir):
            warnings.warn(
                f"{CHECKPOINT_DIR_ENV}={ckdir!r} is ignored: the Spark "
                f"context already checkpoints to {pinned!r}",
                stacklevel=2,
            )
        return df.checkpoint(eager=True)
    if mode not in ("local", ""):
        raise RuntimeError(
            f"unknown {BARRIER_MODE_ENV}={mode!r} (use 'local' or "
            "'reliable')"
        )
    return df.localCheckpoint()


def _pinned_under(sc: SparkContext, pinned: str, ckdir: str) -> bool:
    """Whether the context's pinned checkpoint dir was set from
    ``ckdir``: ``setCheckpointDir(d)`` pins a fresh qualified
    subdirectory ``<d>/<uuid>``."""
    path = sc._jvm.org.apache.hadoop.fs.Path
    want = path(ckdir)
    fs = want.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.makeQualified(want).toString() == path(pinned).getParent().toString()
