"""Checkpointed, resumable pipeline runs (stage B10).

North rule: "resumable from checkpoint with per-partition lineage +
metrics".  In production checkpoints are Iceberg snapshots (the
``snapshot_id`` threads through every metrics row); in the sandbox each
stage materializes to parquet under a work dir, with the parquet
``_SUCCESS`` marker as the completion manifest.  Re-running the same
pipeline over the same work dir SKIPS every completed stage (the resume is
a metadata check — no data reread, no left-anti needed for stage-level
resume; the incremental module handles row-level deltas).

A killed run leaves the incomplete stage without ``_SUCCESS``; the rerun
recomputes exactly that stage and everything after it, producing
byte-identical output (all stages are deterministic by construction).

The stages themselves, and the config fields each one's output depends
on, are ``operators.dedup._dedup_stages`` — the sequence ``dedup_pipeline``
runs in memory.  ``CheckpointRunner.stage`` is this module's executor for
it; ``run_dedup_checkpointed`` only wires the two together.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG
from duplicatesuricate_spark.plans.lineage import input_sha, partition_metrics


class CheckpointRunner:
    """Materialize named stages to ``<work_dir>/<stage>`` parquet; skip
    stages whose manifest (``_SUCCESS`` + matching identity stamp) already
    exists.

    Identity stamps: each stage's sha folds a per-stage ``stamp`` — ONLY
    the config fields that stage's output depends on (round-4 advice: the
    old single full-config stamp invalidated config-independent stages like
    the sha window and the expensive sketch pass on ANY knob change) — and
    chains every earlier stage's sha.  Re-running over an existing work dir
    after changing a threshold / band geometry / kernel therefore
    RECOMPUTES from the first stage whose output could differ and reuses
    everything upstream of it (round-3 verdict item 2; the incremental
    path's ``sketch_universe_fingerprint`` solved the same bug for
    row-level state).  The chain is linear over registration order, so a
    changed stage also conservatively invalidates later SIBLINGS — the safe
    direction, and none of the expensive stages sit downstream of a cheap
    knob."""

    def __init__(self, spark: SparkSession, work_dir: str, snapshot_id: int = 0,
                 config_stamp: str = ""):
        self.spark = spark
        self.work_dir = Path(work_dir)
        self.snapshot_id = snapshot_id
        self.config_stamp = config_stamp
        self.executed: list[str] = []
        self.skipped: list[str] = []
        # internal caches a stage's build persists (band buckets, chunk
        # hashes): released as soon as that stage's parquet has landed, so
        # a run leaks nothing into the session
        self.caches: list[DataFrame] = []
        self._lineage: list[str] = []

    def _path(self, stage: str) -> Path:
        return self.work_dir / stage

    def _stamp_path(self, stage: str) -> Path:
        return self.work_dir / "_stamps" / stage

    def is_done(self, stage: str, sha: str) -> bool:
        """Complete AND produced under the same identity: parquet _SUCCESS
        present, stamp file present, stamp content == this run's stage sha.
        A pre-stamp work dir (no stamp file) is treated as a mismatch — the
        safe direction is recompute."""
        if not (self._path(stage) / "_SUCCESS").exists():
            return False
        sp = self._stamp_path(stage)
        return sp.exists() and sp.read_text().strip() == sha

    def stage(self, name: str, build: Callable[[], DataFrame],
              stamp: str | None = None) -> DataFrame:
        """Return the stage output, computing + persisting it only if its
        manifest is absent or was produced under a different config/kernel
        identity.  Always returns the MATERIALIZED table so downstream
        stages have a stable, re-readable input.

        ``stamp`` — this stage's OWN config identity (only the fields its
        output depends on); ``None`` falls back to the runner-wide
        ``config_stamp`` (legacy callers)."""
        path = str(self._path(name))
        own = self.config_stamp if stamp is None else stamp
        sha = input_sha(name, self.snapshot_id, own, *self._lineage)
        if self.is_done(name, sha):
            self.skipped.append(name)
        else:
            t0 = time.monotonic()
            try:
                build().write.mode("overwrite").parquet(path)
            finally:
                # the stage has landed (or failed): the internal tables its
                # build persisted are no longer needed
                while self.caches:
                    self.caches.pop().unpersist()
            wall_ms = int((time.monotonic() - t0) * 1000)
            out = self.spark.read.parquet(path)
            m = partition_metrics(out, name, sha, wall_ms, self.snapshot_id)
            m.write.mode("overwrite").parquet(str(self.work_dir / "_metrics" / name))
            sp = self._stamp_path(name)
            sp.parent.mkdir(parents=True, exist_ok=True)
            sp.write_text(sha + "\n")
            self.executed.append(name)
        self._lineage.append(f"{name}:{sha[:12]}")
        return self.spark.read.parquet(path)

    def metrics(self) -> DataFrame:
        # recursive lookup instead of a "/*" glob: the glob path makes the
        # DataSource probe each subdir for streaming-sink metadata and log a
        # spurious FileNotFoundException WARN per read
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(str(self.work_dir / "_metrics"))
        )


def run_dedup_checkpointed(
    spark: SparkSession,
    corpus: DataFrame,
    work_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
    snapshot_id: int = 0,
) -> dict[str, DataFrame]:
    """The flagship pipeline, stage-materialized for kill/resume: the stage
    sequence ``dedup_pipeline`` runs (``operators.dedup._dedup_stages``),
    with every stage a parquet checkpoint under ``work_dir``.  Its
    assignments and pairs equal the in-memory run's."""
    from duplicatesuricate_spark.operators.dedup import _dedup_stages

    r = CheckpointRunner(spark, work_dir, snapshot_id)
    t = _dedup_stages(corpus, cfg, r.stage, r.caches)
    return {
        "assignments": t["assignments"],
        "pairs": t["all_pairs"],
        "metrics": r.metrics(),
        "_runner": r,
    }
