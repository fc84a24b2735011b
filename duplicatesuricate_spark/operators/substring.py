"""Exact-substring duplicate pass (stage B9).

Shingle sketches miss containment: a document embedded verbatim inside a
much larger one has low whole-doc Jaccard.  The reference's exact channel
is its per-row exact-match blocking (duplicatesuricate/utils.py:207-214,
connectors.py:175-205); the scalable recast is two phases:

  1. CANDIDATES — content-defined chunking, all in Catalyst SQL: a chunk
     starts at every token whose hash % ``substring_anchor_mod`` == 0
     (anchors are content-defined, so they survive arbitrary prefix shifts
     — the property a fixed-stride window lacks), spans
     ``substring_window`` tokens, and is hashed with ``xxhash64``.  A
     self-equi-join on chunk hashes + a containment ratio
     (matched / min(chunks)) yields candidate pairs.  Chunk hashes shared
     by more than ``hot_band_cap`` documents (license boilerplate) are
     dropped before the join — the document-frequency cap that keeps the
     join linear; the drop count is observable via ``chunk_df_stats``.

  2. VERIFY — candidates are hydrated with both contents and checked
     EXACTLY inside an Arrow-batched kernel: is the smaller document's
     normalized token stream a contiguous substring of the larger one?
     (Python's ``str in`` runs Crochemore-Perrin two-way search — the same
     linear-time answer a suffix array gives for one pattern, without
     building a 10^12-entry global SA.  A per-partition suffix array would
     only see co-partitioned pairs; candidate generation above is what
     makes the pass global.)

Output pairs carry ``kind='exact_substring'`` and are unioned into the LSH
pair set before connected components (``unionByName`` + ``distinct``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG
from duplicatesuricate_spark.functions.text import tokens_expr


def chunk_hashes(corpus: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """(doc_id, content | chunks) -> (doc_id, chunk_hash) distinct,
    full-window, content-defined anchored chunks.

    Two input shapes: a precomputed ``chunks`` column (derived inside the
    fused Arrow sketch kernel — the pipeline path), or raw ``content``
    (tokenized here).  The content form hashes chunks with ``xxhash64``
    over token-hash slices — no 50-token string concatenation per anchor
    (interpreted HOF + string building was the pipeline's single most
    expensive stage before this).
    """
    w = cfg.substring_window
    if "chunks" in corpus.columns:
        return corpus.select("doc_id", F.explode("chunks").alias("chunk_hash"))
    # raw-content path: deliberately NOT widened with a repartition — the
    # JVM split(lower(...)) tokenizer is allocation-bound and anti-scales
    # with concurrent tasks on this host class (BENCH/BASELINE.md round-2
    # controls; re-measured r06: widening to 32 tasks made this 1.7x
    # SLOWER at 50k docs).  At real scale the scan is already wide and the
    # question disappears; the pipeline path avoids JVM tokenization
    # entirely (fused Arrow kernel chunks).
    df = corpus.select(
        "doc_id",
        F.transform(tokens_expr("content", cfg), lambda t: F.xxhash64(t)).alias("th"),
    )
    n = F.size("th")
    # anchor positions: token-hash % mod == 0 AND a full window fits;
    # documents shorter than the window produce no chunks (they are the
    # MinHash path's job, not containment candidates)
    anchors = F.when(
        n >= w,
        F.filter(
            F.sequence(F.lit(1), n - F.lit(w - 1)),
            lambda i: F.pmod(
                F.element_at("th", i), F.lit(cfg.substring_anchor_mod)
            ) == 0,
        ),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(anchors, lambda i: F.xxhash64(F.slice("th", i, w)))
    return (
        df.select("doc_id", F.explode(F.array_distinct(chunks)).alias("chunk_hash"))
    )


def chunk_df_stats(corpus: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG) -> DataFrame:
    """Observability for the document-frequency cap (SURVEY.md §7 risk:
    'log what was dropped'): one row —
    (n_chunk_rows, n_distinct_chunks, n_hot_chunks, n_rows_dropped)."""
    ch = chunk_hashes(corpus, cfg)
    counts = ch.groupBy("chunk_hash").agg(F.count(F.lit(1)).alias("df"))
    hot = F.col("df") > cfg.hot_band_cap
    return counts.agg(
        F.sum("df").alias("n_chunk_rows"),
        F.count(F.lit(1)).alias("n_distinct_chunks"),
        F.sum(F.when(hot, 1).otherwise(0)).alias("n_hot_chunks"),
        F.sum(F.when(hot, F.col("df")).otherwise(0)).alias("n_rows_dropped"),
    )


def substring_candidates(
    corpus: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
    cache_registry: list | None = None,
) -> DataFrame:
    """Candidate containment pairs from shared chunk hashes.

    The chunk table is referenced three times (both join sides, per-doc
    sizes): materialize it once or token hashing dominates the whole pass.
    One explicit exchange on ``chunk_hash`` feeds the document-frequency
    window, and the capped table is persisted WITH that partitioning so
    the self-join and the size aggregation consume it from cache — the
    old agg+join df-cap re-ran the cap aggregation and its join once per
    plan reference (round-6 restructure, same shape as
    textqa.ngram_jaccard_pairs)."""
    # persist, not localCheckpoint: survives executor loss on a real
    # cluster (partitions recompute from lineage; localCheckpoint blocks
    # do not — round-1 verdict item 8); level via persist_level()
    from duplicatesuricate_spark.functions.util import persist_level
    from pyspark.sql import Window

    ch = chunk_hashes(corpus, cfg).repartition("chunk_hash")
    # document-frequency cap on hot chunks (boilerplate)
    w_df = Window.partitionBy("chunk_hash")
    ch = (
        ch.withColumn("chunk_df", F.count(F.lit(1)).over(w_df))
        .filter(F.col("chunk_df") <= cfg.hot_band_cap)
        .persist(persist_level())
    )
    # cache ownership convention (see lsh.candidate_pairs): looping callers
    # unpersist this once the returned pairs are materialized
    if cache_registry is not None:
        cache_registry.append(ch)
    per_doc = ch.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))

    # singleton chunks (df = 1) can never match across documents: drop
    # them from the JOIN sides only — ``per_doc`` above still counts them,
    # so the containment denominator is unchanged
    j = ch.filter(F.col("chunk_df") >= 2).select("doc_id", "chunk_hash")
    a = j.alias("a")
    b = j.alias("b")
    matched = (
        a.join(b, "chunk_hash")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("matched"))
    )
    na = per_doc.select(F.col("doc_id").alias("id_a"), F.col("n_chunks").alias("chunks_a"))
    nb = per_doc.select(F.col("doc_id").alias("id_b"), F.col("n_chunks").alias("chunks_b"))
    return (
        matched.join(na, "id_a")
        .join(nb, "id_b")
        .where(
            (F.col("matched") >= cfg.substring_min_chunks)
            & (
                F.col("matched")
                >= F.least("chunks_a", "chunks_b") * F.lit(cfg.substring_containment)
            )
        )
        .select("id_a", "id_b")
    )


def verify_containment(
    candidates: DataFrame,
    corpus: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Exact check: smaller doc's normalized token stream contiguous in the
    larger's.  Arrow-batched via mapInPandas; runs only on the (tiny
    relative to the corpus) candidate set."""
    docs = corpus.select("doc_id", "content")
    hyd = (
        candidates.join(
            docs.select(F.col("doc_id").alias("id_a"), F.col("content").alias("content_a")),
            "id_a",
        ).join(
            docs.select(F.col("doc_id").alias("id_b"), F.col("content").alias("content_b")),
            "id_b",
        )
    )
    pattern = cfg.token_pattern

    def check(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        splitter = re.compile(pattern)

        def norm(s: str) -> str:
            return " ".join(t for t in splitter.split(s.lower()) if t)

        for pdf in batches:
            # space sentinels on both sides force whole-token alignment:
            # without them 'bc def' would match inside 'abc def'
            # (round-1 advice fix)
            na = pdf["content_a"].map(lambda s: " " + norm(s) + " ")
            nb = pdf["content_b"].map(lambda s: " " + norm(s) + " ")
            keep = [
                (sa in sb) if len(sa) <= len(sb) else (sb in sa)
                for sa, sb in zip(na, nb)
            ]
            yield pdf.loc[keep, ["id_a", "id_b"]]

    return hyd.mapInPandas(check, "id_a long, id_b long")


def exact_substring_pairs(
    corpus: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
    chunk_table: DataFrame | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Full stage-B9 pass: candidates -> exact verify -> canonical pairs.

    ``chunk_table`` (doc_id, chunks) — the anchored chunk hashes computed
    inside the fused sketch kernel and carried on the persisted sketch
    table — lets the pass skip re-tokenizing AND re-chunking the corpus."""
    cand_src = corpus if chunk_table is None else chunk_table
    verified = verify_containment(
        substring_candidates(cand_src, cfg, cache_registry=cache_registry),
        corpus, cfg,
    )
    return verified.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
    ).distinct()
