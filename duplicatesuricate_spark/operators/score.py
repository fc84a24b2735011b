"""Vectorized pair scoring and exact verification (stage B7).

Mirrors the reference's similarity-aggregation step — build a similarity
table per candidate, then threshold (duplicatesuricate/utils.py:288-328,
connectors.py:215-232, linker.py:99-106) — as a single set-at-a-time pass:

  * ``jaccard_est``  — fraction of equal MinHash slots (estimates the exact
    5-gram-shingle Jaccard the reference's fuzzy kernels approximate),
    used as a loose prefilter;
  * ``hamming``      — ``bit_count(simhash_a ^ simhash_b)``, the secondary
    similarity channel;
  * ``jaccard``      — EXACT shingle-set Jaccard on the prefilter's
    survivors, which makes the accept/reject decision.

All kernels are pure Column expressions (``zip_with``/``aggregate``/
``bit_count``/``array_intersect`` — whole-stage codegen, zero Python):
scoring never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG


def score_and_verify(
    pairs: DataFrame,
    sketched: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """(id_a, id_b) candidates -> accepted (id_a, id_b, jaccard, hamming).

    Hydrates minhash+simhash+shingles in ONE pass (two joins), estimates,
    prefilters, then decides on exact Jaccard — all inside a single select
    chain, so Catalyst plans one stage per join instead of re-shuffling the
    pair table between the estimate and verification steps.  Candidate
    volume is only ~an order above survivor volume, so hydrating the
    shingles up front is cheaper than two more shuffles.

    Prefilter (the reference's any-score > 0.3 stage, connectors.py:229-
    231): keep candidates whose MinHash estimate is within
    ``jaccard_margin`` of the threshold, or whose SimHash Hamming distance
    is within the Hamming channel; everything dropped is ~3 sigma below
    the cut.  Acceptance (the reference's proba > 0.5 decision,
    linker.py:99-106) is on EXACT 5-gram-shingle Jaccard, ``|A ∩ B| /
    |A ∪ B|`` with JVM-side array ops: no MinHash boundary variance, so the
    accepted set equals the oracle's definition wherever LSH produced the
    candidate."""
    slim = sketched.select("doc_id", "minhash", "simhash", "shingles")
    a = slim.select(
        F.col("doc_id").alias("id_a"),
        F.col("minhash").alias("minhash_a"),
        F.col("simhash").alias("simhash_a"),
        F.col("shingles").alias("sh_a"),
    )
    b = slim.select(
        F.col("doc_id").alias("id_b"),
        F.col("minhash").alias("minhash_b"),
        F.col("simhash").alias("simhash_b"),
        F.col("shingles").alias("sh_b"),
    )
    h = pairs.join(a, "id_a").join(b, "id_b")

    eq_slots = F.aggregate(
        F.zip_with(
            "minhash_a", "minhash_b",
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    est = eq_slots.cast("double") / F.lit(float(cfg.num_perms))
    ham = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    pre = h.select("id_a", "id_b", "sh_a", "sh_b",
                   est.alias("jaccard_est"), ham.alias("hamming")).where(
        (F.col("jaccard_est") >= F.lit(cfg.jaccard_threshold - cfg.jaccard_margin))
        | (F.col("hamming") <= F.lit(cfg.hamming_threshold))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pre.withColumn("jaccard", jac)
        .where(
            (F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
            | (F.col("hamming") <= F.lit(cfg.hamming_threshold))
        )
        .select("id_a", "id_b", "jaccard", "hamming")
    )

