"""Lineage materialization with one deployment-wide durability setting.

Every iterative or multi-branch operator in this engine truncates
lineage through ``materialize``, by one rule: a frame that several
branches of a plan read (the MinHash signatures of the LSH
operators, ``containment_join``'s shingle table, each loop round) is
cut once, eagerly, and the frame the operator returns stays lazy
above the cut. No operator caches with ``persist``: a cut's blocks
live as long as the returned frame's lineage references them, so
there is nothing to release.

Which Spark call does the cut is a property of the DEPLOYMENT, not of
the call site, so it is read from one session conf,
``spark.foodPipeline.checkpointMode``:

* ``'local'`` (default) — ``df.localCheckpoint(eager)``: fastest
  (blocks stay on the executors that computed them, no FS
  round-trip), but the blocks DIE WITH THEIR EXECUTOR, so a long loop
  fails instead of recomputing when an executor is lost.
* ``'reliable'`` — ``df.checkpoint(eager)``: blocks are written to the
  SparkContext checkpoint directory (HDFS / object store on a real
  cluster), so the job survives executor loss at the price of one
  write+read of the materialized data per cut. Fails fast with an
  actionable error if ``setCheckpointDir`` was never called — Spark's
  own error for that case surfaces deep in a job stage.

A cluster with a durable checkpoint FS sets the conf to ``'reliable'``
once; no call site changes. Both modes truncate lineage and neither
recomputes a pin from lineage, so they are result-identical by
construction (pinned by ``tests/test_checkpoint_modes.py``), including
at pins that freeze a nondeterministic step such as sampled range
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

CONF_KEY = "spark.foodPipeline.checkpointMode"
VALID_MODES = ("local", "reliable")

# Always empty: the engine releases no cached frames. Traced perfbench runs read it.
RELEASE_FAILURES: list[str] = []


def _resolve_mode(df: DataFrame) -> str:
    """Session conf ``spark.foodPipeline.checkpointMode``, default
    ``'local'``. Raises ``ValueError`` on any other value so a typo'd
    conf fails at the first cut, not as silently-local behavior."""
    try:
        mode = df.sparkSession.conf.get(CONF_KEY, "local")
    except Exception:  # noqa: BLE001 — connect-mode conf quirks
        mode = "local"
    if mode not in VALID_MODES:
        raise ValueError(
            f"checkpoint mode {mode!r} not in {VALID_MODES} "
            f"(session conf {CONF_KEY})"
        )
    return mode


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage per the session's durability mode: with no
    conf set this IS ``df.localCheckpoint(eager)``."""
    if _resolve_mode(df) == "local":
        return df.localCheckpoint(eager=eager)
    try:
        ckpt_dir = df.sparkSession.sparkContext.getCheckpointDir()
    except Exception:  # noqa: BLE001 — older API shape
        ckpt_dir = None
    if not ckpt_dir:
        raise RuntimeError(
            "checkpoint mode 'reliable' needs a checkpoint "
            "directory: call spark.sparkContext.setCheckpointDir("
            "'hdfs://... or file:///...') first"
        )
    return df.checkpoint(eager=eager)
