#!/usr/bin/env python
"""Round-6 measurement harness (guide §1): per-stage breakdown of the
benched queries with noop-sink isolation and labelled jobs.

Separate from the FROZEN bench.py — numbers here feed OPTIMIZATION_r06.md,
never the driver metric.  Env mirrors bench.py: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS, plus SPARK_GRAFT_EXTRA_RUNS (default 3).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from duplicatesuricate_spark import get_spark  # noqa: E402


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_runs = int(os.environ.get("SPARK_GRAFT_EXTRA_RUNS", "3"))
    only = set(os.environ.get("SPARK_GRAFT_EXTRA_ONLY", "").split(",")) - {""}

    from duplicatesuricate_spark.operators.dedup import dedup_pipeline
    from duplicatesuricate_spark.operators.lsh import (
        portable_simhash, portable_simhash_pairs,
    )
    from duplicatesuricate_spark.operators.similarity import brute_force_topk
    from duplicatesuricate_spark.operators.substring import exact_substring_pairs
    from duplicatesuricate_spark.operators.textqa import (
        fingerprints, language_id, ngram_jaccard_pairs, quality_scores,
        repetition_signals, token_counts,
    )
    from duplicatesuricate_spark.sources.corpus import documents_as_corpus

    spark = get_spark(app_name="dss-bench-extra", cores=cpus)
    sc = spark.sparkContext
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = documents_as_corpus(spark, sf_dir)

    out: dict[str, list[float]] = {}

    def timed(name: str, fn) -> None:
        if only and name.split("/")[0] not in only:
            return
        out.setdefault(name, [])
        for i in range(n_runs):
            sc.setJobDescription(f"{name} run{i}")
            t0 = time.monotonic()
            cleanup = fn()
            dt = time.monotonic() - t0
            out[name].append(round(dt, 3))
            if cleanup:
                cleanup()
            sc.setJobDescription(None)
            print(f"[extra] {name} run {i}: {dt:.3f}s "
                  f"(load1 {os.getloadavg()[0]:.1f})",
                  file=sys.stderr, flush=True)

    def drain(owned: list):
        def _c() -> None:
            while owned:
                owned.pop().unpersist()
        return _c

    def full_dedup():
        res = dedup_pipeline(corpus)
        res.assignments.count()
        return res.unpersist

    # ---- benched queries, noop-isolated ----
    def q_text():
        noop(token_counts(docs))
        noop(quality_scores(docs))
        noop(language_id(docs))
        noop(fingerprints(docs))
        return None

    def q_ngram():
        owned: list = []
        noop(ngram_jaccard_pairs(docs, threshold=0.3, cache_registry=owned))
        return drain(owned)

    def q_ann():
        noop(brute_force_topk(emb, emb.where(F.col("vec_id") < 32), k=10))
        return None

    def q_substr():
        owned: list = []
        noop(exact_substring_pairs(corpus, cache_registry=owned))
        return drain(owned)

    def q_rep():
        noop(repetition_signals(docs))
        return None

    def q_simhash():
        owned: list = []
        noop(portable_simhash_pairs(docs, cache_registry=owned))
        return drain(owned)

    def q_simhash_sig_only():
        owned: list = []
        sh = portable_simhash(docs)
        noop(sh)
        return drain(owned)

    timed("dedup/full", full_dedup)
    timed("text_suite", q_text)
    timed("ngram_jaccard", q_ngram)
    timed("ann_topk", q_ann)
    timed("exact_substring", q_substr)
    timed("repetition", q_rep)
    timed("simhash_pairs", q_simhash)
    timed("simhash_sig_only", q_simhash_sig_only)

    print(json.dumps({
        "samples": out,
        "min": {k: min(v) for k, v in out.items()},
        "sf_dir": sf_dir, "cpus": cpus,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
