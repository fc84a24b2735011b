"""Vectorized pair scoring (stage B7).

Mirrors the reference's similarity-aggregation step — build a similarity
table per candidate, then threshold (duplicatesuricate/utils.py:288-328,
connectors.py:215-232, linker.py:99-106) — as a single set-at-a-time pass:

  * ``jaccard_est``  — fraction of equal MinHash slots (estimates the exact
    5-gram-shingle Jaccard the reference's fuzzy kernels approximate);
  * ``hamming``      — ``bit_count(simhash_a ^ simhash_b)``, the secondary
    similarity channel.

Both kernels are pure Column expressions (``zip_with``/``aggregate``/
``bit_count`` — whole-stage codegen, zero Python): scoring never leaves
the JVM.

Hydration joins the slim sketch table twice on ``doc_id``; when the sketch
side is small enough, pass ``broadcast_sketches=True`` to skip both
shuffles entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG


def _hydrate(pairs: DataFrame, sketched: DataFrame, broadcast_sketches: bool) -> DataFrame:
    slim = sketched.select("doc_id", "minhash", "simhash")
    if broadcast_sketches:
        slim = F.broadcast(slim)
    a = slim.select(
        F.col("doc_id").alias("id_a"),
        F.col("minhash").alias("minhash_a"),
        F.col("simhash").alias("simhash_a"),
    )
    b = slim.select(
        F.col("doc_id").alias("id_b"),
        F.col("minhash").alias("minhash_b"),
        F.col("simhash").alias("simhash_b"),
    )
    return pairs.join(a, "id_a").join(b, "id_b")


def score_pairs(
    pairs: DataFrame,
    sketched: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    broadcast_sketches: bool = False,
) -> DataFrame:
    """(id_a, id_b) -> + jaccard_est double, hamming int."""
    h = _hydrate(pairs, sketched, broadcast_sketches)
    eq_slots = F.aggregate(
        F.zip_with(
            "minhash_a", "minhash_b",
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    jac = (eq_slots.cast("double") / F.lit(float(cfg.num_perms))).alias("jaccard_est")
    ham = F.bit_count(
        F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
    ).alias("hamming")
    return h.select("id_a", "id_b", jac, ham)


def prefilter_pairs(scored: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """Loose sketch-level prefilter (the reference's any-score > 0.3 stage,
    connectors.py:229-231): keep candidates whose MinHash estimate is
    within ``jaccard_margin`` of the threshold, or whose SimHash Hamming
    distance is within the Hamming channel.  Survivors go to exact
    verification; everything dropped here is ~3 sigma below the cut."""
    return scored.where(
        (F.col("jaccard_est") >= F.lit(cfg.jaccard_threshold - cfg.jaccard_margin))
        | (F.col("hamming") <= F.lit(cfg.hamming_threshold))
    )


def verify_pairs_exact(
    prefiltered: DataFrame,
    shingled: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Final acceptance (the reference's proba > 0.5 decision,
    linker.py:99-106) on EXACT 5-gram-shingle Jaccard: hydrate the shingle
    sets for the (small) surviving candidate set and compute
    ``|A ∩ B| / |A ∪ B|`` with JVM-side array ops.  This removes the
    MinHash estimator's boundary variance entirely — the engine's accepted
    pair set equals the oracle's definition wherever LSH produced the
    candidate (recall then hinges only on the banding curve, >=0.999 at
    J >= threshold + the Hamming channel)."""
    sh = shingled.select("doc_id", "shingles")
    h = (
        prefiltered.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        ).join(
            sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        h.withColumn("jaccard", jac)
        .where(
            (F.col("jaccard") >= F.lit(cfg.jaccard_threshold))
            | (F.col("hamming") <= F.lit(cfg.hamming_threshold))
        )
        .select("id_a", "id_b", "jaccard", "hamming")
    )


def filter_dup_pairs(
    scored: DataFrame,
    shingled: DataFrame | None = None,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """prefilter -> exact verify.  If ``shingled`` is None, falls back to
    sketch-only acceptance at the raw threshold (cheaper, noisier)."""
    if shingled is None:
        return scored.where(
            (F.col("jaccard_est") >= F.lit(cfg.jaccard_threshold))
            | (F.col("hamming") <= F.lit(cfg.hamming_threshold))
        ).select("id_a", "id_b", F.col("jaccard_est").alias("jaccard"), "hamming")
    return verify_pairs_exact(prefilter_pairs(scored, cfg), shingled, cfg)


def score_and_verify(
    pairs: DataFrame,
    sketched: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Fused stage-B7: hydrate minhash+simhash+shingles in ONE pass (two
    joins total instead of four), estimate, prefilter, then decide on exact
    Jaccard — all inside a single select chain, so Catalyst plans one
    stage per join instead of re-shuffling the pair table between the
    estimate and verification steps.  Semantically identical to
    ``filter_dup_pairs(score_pairs(...), ...)``; preferred in the pipeline
    because candidate volume is only ~an order above survivor volume,
    making the extra shingle hydration cheaper than two more shuffles."""
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

