"""Incremental + streaming dedup.

The reference is pure batch; the north rule's resumability is batch-
incremental (SURVEY.md §2 "Streaming" note).  This module adds both:

  * ``incremental_dedup`` — merge a NEW batch of documents into persisted
    dedup state (append-only sketch log + assignments in parquet; Iceberg
    tables in production).  Only the new docs are shingled/sketched; the
    delta's band keys select which buckets of the (lazily re-banded,
    column-pruned) union participate; connected components re-run over
    (previous assignment edges ∪ new pairs) — the assignment edges are
    stars, so the union graph is small and CC converges in O(1)
    iterations for unchanged components.  Docs already in the state are
    skipped via a left-anti join on doc_id (the checkpoint-resume delta).
    Measured cost of a +10% merge at 1M docs: 0.38x a full recompute
    (BENCH/BASELINE.md).

  * ``stream_dedup`` — Structured Streaming wrapper: ``foreachBatch``
    drives the SAME incremental function per micro-batch, so batch and
    streaming share one code path (and one test oracle).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG
from duplicatesuricate_spark.functions.sketch import with_full_sketches
from duplicatesuricate_spark.operators.lsh import (
    band_explode,
    candidate_pairs,
    simhash_block_explode,
)
from duplicatesuricate_spark.operators.score import score_and_verify
from duplicatesuricate_spark.operators.components import (
    connected_components,
    assignments_with_singletons,
)

_SKETCH_COLS = ["doc_id", "content_sha256", "shingles", "minhash", "simhash"]


def sketch_universe_fingerprint(cfg: DedupConfig) -> str:
    """Identity of the token/shingle/signature hash universe.

    Two sketch tables are comparable iff every constant below matches:
    tokenizer mode (JVM xxhash64 vs in-kernel char hash and its version),
    seed, permutation count, shingle width, band geometry.  Persisted
    DedupState records this; ``incremental_dedup`` fails fast on mismatch
    instead of silently producing ~0 Jaccard between old sketches and new
    deltas (round-2 advice, incremental.py:98)."""
    import hashlib

    from duplicatesuricate_spark.functions.sketch import KERNEL_VERSION

    parts = (
        f"kernel_tokenize={cfg.kernel_tokenize}",
        f"kernel_version={KERNEL_VERSION if cfg.kernel_tokenize else 'jvm-xxhash64'}",
        f"seed={cfg.seed}",
        f"num_perms={cfg.num_perms}",
        f"shingle_k={cfg.shingle_k}",
        f"bands={cfg.bands}x{cfg.rows_per_band}",
        f"token_pattern={cfg.token_pattern}",
    )
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:16]


class DedupState:
    """Parquet-backed mutable state: sketches + assignments + the sketch-
    universe fingerprint they were computed under."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = Path(state_dir)

    def check_universe(self, cfg: DedupConfig) -> None:
        """Fail fast if persisted sketches use a different hash universe
        than ``cfg`` would produce; record the universe on first use."""
        fp_file = self.dir / "UNIVERSE"
        fp = sketch_universe_fingerprint(cfg)
        if fp_file.exists():
            stored = fp_file.read_text().strip()
            if stored != fp:
                raise ValueError(
                    f"dedup state at {self.dir} was sketched under universe "
                    f"{stored}, active config produces {fp} "
                    "(kernel_tokenize / seed / num_perms / shingle_k / bands "
                    "changed, or the kernel version was bumped). Re-sketch "
                    "the state or restore the original config — mixing "
                    "universes silently loses every cross-boundary near-dup."
                )
        else:
            self.dir.mkdir(parents=True, exist_ok=True)
            fp_file.write_text(fp + "\n")

    def _read(self, name: str, schema: str) -> DataFrame:
        p = self.dir / name
        if (p / "_SUCCESS").exists():
            return self.spark.read.parquet(str(p))
        return self.spark.createDataFrame([], schema)

    def sketches(self) -> DataFrame:
        return self._read(
            "sketches",
            "doc_id long, content_sha256 string, shingles array<long>, "
            "minhash array<int>, simhash long",
        )

    def assignments(self) -> DataFrame:
        return self._read(
            "assignments", "doc_id long, content_sha256 string, cluster_id long"
        )

    def write(self, name: str, df: DataFrame) -> None:
        tmp = str(self.dir / f"_tmp_{name}")
        df.write.mode("overwrite").parquet(tmp)
        final = self.dir / name
        if final.exists():
            import shutil

            shutil.rmtree(final)
        Path(tmp).rename(final)

    def append(self, name: str, df: DataFrame) -> None:
        """Append-only tables (the sketch log): rewriting the full sketch
        table per merge is O(total corpus) — at 10^12 rows that single
        write dwarfs the delta work itself.  Appends are not atomic like
        the tmp+rename overwrite, so callers must order writes such that
        a crash mid-append is idempotently repaired on the next run (see
        ``incremental_dedup``: assignments commit first; docs assigned
        but missing from sketches are simply reprocessed as fresh)."""
        df.write.mode("append").parquet(str(self.dir / name))


def incremental_dedup(
    spark: SparkSession,
    new_corpus: DataFrame,
    state_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Merge new (doc_id, content_sha256, content) rows into the state;
    returns the updated full assignments table."""
    state = DedupState(spark, state_dir)
    state.check_universe(cfg)
    old_sk = state.sketches()
    old_assign = state.assignments()

    # delta: docs not yet processed (checkpoint-resume semantics).
    # MUST use the SAME fused sketch kernel as the batch pipeline
    # (with_full_sketches): the batch path's shingle hashes are multiply-mix
    # over per-token xxhash64 values, so sketching fresh docs any other way
    # would put state and delta in incompatible shingle universes (~0
    # Jaccard across the boundary — round-1 advice fix).
    fresh = new_corpus.join(old_sk.select("doc_id"), "doc_id", "left_anti")
    # a small delta arriving as one file/partition would serialize the
    # compute-heavy sketch kernel on one core (no-op at real delta sizes)
    from duplicatesuricate_spark.functions.util import ensure_min_partitions

    fresh = ensure_min_partitions(fresh)
    # persisted so the final state append reads materialized blocks (the
    # union below computes exactly these partitions) instead of re-running
    # the sketch kernel — and so the append never re-scans the sketches
    # dir it is writing into
    from duplicatesuricate_spark.functions.util import persist_level

    fresh_sk = with_full_sketches(
        fresh, cfg=cfg, project=["doc_id", "content_sha256"]
    ).persist(persist_level())
    # the union is deliberately NOT persisted: persisting it would
    # materialize the ENTIRE historical sketch table (shingle arrays
    # included) — O(total corpus) I/O per merge, the opposite of
    # incremental.  Left lazy, every consumer below prunes its own
    # columns out of the parquet state (banding reads minhash/simhash
    # only, sha edges read 8+64 bytes/row) while the fresh side serves
    # from the persisted delta blocks.
    all_sk = old_sk.unionByName(fresh_sk)

    # candidate pairs touching at least one fresh doc: band the UNION but
    # keep only buckets containing a fresh doc.  The fresh band keys are
    # derived from the DELTA sketches alone (identical values — banding is
    # per-row), so the expensive 22-key explode over the historical table
    # runs exactly once, and the delta key set is small enough for AQE to
    # broadcast into the semi-join (no shuffle of the union's band rows).
    all_bands = band_explode(all_sk, cfg).unionByName(
        simhash_block_explode(all_sk, cfg)
    )
    fresh_bands = band_explode(fresh_sk, cfg).unionByName(
        simhash_block_explode(fresh_sk, cfg)
    ).select("band_hash").distinct()
    touched = all_bands.join(fresh_bands, ["band_hash"], "left_semi")
    # owned caches: candidate_pairs persists its bucket table internally;
    # register it so THIS call can unpersist exactly its own intermediates
    # after the state is durably written (round-3 advice items 1-2 — a
    # looping caller must not leak one DISK_ONLY table per merge, and
    # session-global clearCache would evict caller-owned caches)
    owned: list = [fresh_sk]
    cands = candidate_pairs(touched, cfg, cache_registry=owned)
    # fused estimate->prefilter->exact-verify (two hydration joins) — the
    # same stage-B7 form the batch pipeline uses
    new_pairs = score_and_verify(cands, all_sk, cfg)

    # previous components as star edges + new pairs -> re-converge
    old_edges = old_assign.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("cluster_id").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    # exact dups across old/new: same sha -> same cluster.  Only sha groups
    # CONTAINING a fresh doc need new edges (groups wholly in the old state
    # are already connected through old_edges), so the window runs over the
    # semi-joined subset — the delta sha set broadcasts and the union is
    # scanned map-side (two pruned columns), never shuffled whole.
    fresh_shas = fresh_sk.select("content_sha256").distinct()
    sha_edges_src = all_sk.select("doc_id", "content_sha256").join(
        fresh_shas, "content_sha256", "left_semi"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("content_sha256")
    sha_edges = (
        sha_edges_src.withColumn("rep", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    edges = (
        new_pairs.select("id_a", "id_b")
        .unionByName(old_edges)
        .unionByName(sha_edges)
        .distinct()
    )
    comps = connected_components(edges)
    assignments = assignments_with_singletons(
        all_sk.select("doc_id", "content_sha256"), comps
    )

    # assignments first (atomic tmp+rename), THEN append only the FRESH
    # sketches: if the job dies between the two, the next run's left-anti
    # on sketch doc_ids re-sketches the assigned-but-unappended docs —
    # idempotent — whereas appending first would leave docs that the
    # left-anti skips forever without assignments.  Appending fresh rows
    # instead of rewriting the union keeps the state write O(delta).
    state.write("assignments", assignments)
    # materialize before the append: fresh_sk's plan reads the sketches
    # dir being appended to (via all_sk lineage in assignments above it is
    # already computed and persisted, but fresh_sk itself must not scan
    # the destination mid-write)
    state.append("sketches", fresh_sk.select(*_SKETCH_COLS))
    for df in owned:
        df.unpersist()
    return state.assignments()


def stream_dedup(
    corpus_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig = DEFAULT_CONFIG,
):
    """Structured Streaming entry: each micro-batch flows through
    ``incremental_dedup``.  The input stream must carry
    (doc_id, content_sha256, content)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # incremental_dedup unpersists exactly its own intermediates after
        # the state is durably written, so a long-running stream neither
        # accumulates DISK_ONLY blocks NOR touches caches the caller owns
        # (the former catalog.clearCache() here was session-global —
        # round-3 advice item 1)
        incremental_dedup(batch_df.sparkSession, batch_df, state_dir, cfg)

    return (
        corpus_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
