#!/usr/bin/env python
"""One scaling-run worker: full dedup pipeline on a prepared parquet corpus
at a given core count, fresh JVM.  Prints one JSON line.

Usage: python BENCH/scaling_worker.py <cores> <corpus_parquet>
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from duplicatesuricate_spark import get_spark  # noqa: E402
from duplicatesuricate_spark.functions.util import (  # noqa: E402
    persist_level_name,
)
from duplicatesuricate_spark.operators.dedup import dedup_pipeline  # noqa: E402
from duplicatesuricate_spark.sources.corpus import with_doc_identity  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    corpus_path = sys.argv[2]
    # pin the WHOLE process tree (JVM + pyspark daemons, which inherit the
    # affinity mask) to `cores` CPUs: without this, local[N] caps only the
    # task slots while the JVM sizes its GC/JIT/netty pools to the HOST's
    # 32 CPUs — a "2-core" leg was observed running the JVM at ~386% CPU,
    # i.e. borrowing up to 23 ParallelGC threads, which inflates local[2]
    # throughput and systematically UNDERSTATES eff(2->8).  A real N-core
    # executor host has only N CPUs for everything; sched_setaffinity is
    # that, and Runtime.availableProcessors honors it so every JVM pool
    # auto-sizes to the cap.  SPARK_GRAFT_PIN_CPUS=0 opts out (pre-round-5
    # rows were measured unpinned).
    if os.environ.get("SPARK_GRAFT_PIN_CPUS", "1") != "0":
        os.sched_setaffinity(0, set(range(cores)))
    spark = get_spark(app_name=f"scaling-{cores}", cores=cores)
    corpus = with_doc_identity(spark.read.parquet(corpus_path))
    # warm up: JVM, codegen, AND the input pages.  A bare count() is
    # satisfied from parquet row-group metadata, so without the content
    # scan the timed section pays this VM's globally-serialized
    # first-touch fault path (~40 MB/s, BENCH/BASELINE.md) to read the
    # corpus — an absolute serial term charged identically at every
    # parallelism level, i.e. a property of the sandbox host, not of the
    # pipeline whose scaling is under measurement.  The warm scan is
    # applied identically at both levels; a real cluster's distributed
    # readers never serialize on one fault handler.
    n = corpus.count()
    from pyspark.sql import functions as F
    # the warm scan doubles as a content fingerprint (order-insensitive
    # bit_xor of a row hash): every logged row is tied to the EXACT corpus
    # content, not just its row count — corpus builds are parameterized by
    # (n_docs, n_chunks, seed) and regenerating with different chunking
    # yields a different corpus with a different true pair count
    corpus_fp = corpus.agg(
        F.bit_xor(F.xxhash64("repo", "path", "commit", "content"))
    ).first()[0]

    t0 = time.monotonic()
    res = dedup_pipeline(corpus)
    n_assign = res.assignments.count()
    n_pairs = res.pairs.count()
    wall = time.monotonic() - t0

    from duplicatesuricate_spark.functions.sketch import KERNEL_VERSION

    try:
        import subprocess

        rev = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.dirname(__file__)),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except Exception:
        rev = None

    print(json.dumps({
        "cores": cores,
        "n_docs": n,
        "n_assignments": n_assign,
        "n_pairs": n_pairs,
        "wall_sec": round(wall, 2),
        "files_per_sec": round(n / wall, 2),
        # ties every logged run to the sketch-universe build that produced
        # it (round-2 verdict: headline numbers must be reproducible from
        # the log, and pair counts differ across kernel universes)
        "kernel_version": KERNEL_VERSION,
        "code_rev": rev,
        "corpus_fingerprint": corpus_fp,
        # storage/JVM knobs under A/B — report the EFFECTIVE values (code
        # defaults unless env-overridden), so rows from different configs
        # are separable even when the defaults change between rounds
        "persist_level": persist_level_name(),
        "java_opts": spark.conf.get("spark.driver.extraJavaOptions", ""),
        # CPUs this process tree may actually use (see pin above) — rows
        # measured unpinned (< round 5) lack this field
        "cpuset": len(os.sched_getaffinity(0)),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
