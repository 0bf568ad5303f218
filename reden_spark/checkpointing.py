"""Checkpoint-mode switch for the pipeline's shared-subtree materializations.

Eager checkpoints of multi-consumed frames are load-bearing on a single host
(they stop AQE's concurrent stage submission from re-executing a lazily
checkpointed subtree once per consumer), but `localCheckpoint` blocks live in
executor storage only: on a multi-executor cluster an executor loss truncates
lineage mid-job and the run cannot recover. This module threads ONE knob
through every call site:

* ``local``    (default) — `df.localCheckpoint`: fastest, executor-local
  blocks, right for single-host / sandbox runs and for clusters where a lost
  executor may simply rerun the whole job.
* ``reliable`` — `df.checkpoint`: blocks written to the fault-tolerant
  checkpoint dir (`spark.sparkContext.setCheckpointDir`, HDFS/object store on
  a real cluster). Survives executor loss; costs a write+read round trip.
  This is the recommended mode for 100 TB multi-executor deployments.
* ``persist``  — `persist(MEMORY_AND_DISK)` + eager count: keeps full lineage
  (recomputable after executor loss) without a checkpoint dir; recomputation
  of a lost block re-runs the upstream stages, so it trades recovery time for
  zero storage setup.

Mode resolution: explicit `set_checkpoint_mode()` > `REDEN_CHECKPOINT_MODE`
env var > "local".
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

MODES = ("local", "reliable", "persist")

_mode: str | None = None


def set_checkpoint_mode(mode: str | None) -> None:
    """Set the process-global checkpoint mode (None → re-read the env var)."""
    global _mode
    if mode is not None and mode not in MODES:
        raise ValueError(f"checkpoint mode {mode!r} not in {MODES}")
    _mode = mode


def checkpoint_mode() -> str:
    if _mode is not None:
        return _mode
    env = os.environ.get("REDEN_CHECKPOINT_MODE", "local")
    if env not in MODES:
        raise ValueError(f"REDEN_CHECKPOINT_MODE={env!r} not in {MODES}")
    return env


def shared(df: DataFrame) -> DataFrame:
    """Materialization point for a subtree consumed by several branches of ONE
    downstream query (the links stage's members/colored/edges, the dedup
    signature and candidate-pair frames): the eager :func:`checkpoint`.

    The barrier stops AQE's concurrent stage submission from re-executing the
    subtree once per consumer (what a lazy localCheckpoint does). A lazy
    ``persist`` variant (no barrier job) and a hybrid by column type lost
    interleaved A/Bs on a 32-core host (BENCH.md round 4) and on a 4-core
    host (CHANGES.md), and were removed."""
    return checkpoint(df)


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a multi-consumed frame under the configured mode.

    `eager=False` is honored only by the local/reliable modes (persist has no
    lazy variant worth having: an unpersisted-unconsumed frame is a no-op).
    """
    mode = checkpoint_mode()
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc._jsc.sc().checkpointDir().isEmpty():
            raise RuntimeError(
                "checkpoint mode 'reliable' needs spark.sparkContext.setCheckpointDir "
                "(point it at fault-tolerant storage: HDFS/S3 on a cluster)"
            )
        return df.checkpoint(eager=eager)
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    if eager:
        out.count()
    return out
