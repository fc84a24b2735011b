"""SparkSession factory.

Single place to pin the execution config: Arrow on (all sketch kernels are
Arrow-batched pandas UDFs), AQE on (skew-join splitting + partition
coalescing), shuffle partitions at 1x the configured cores (32 under
``local[*]``) rather than the 200 default, and a generated-class cache
(``CODEGEN_CACHE_ENTRIES``) that holds every class one flagship run
compiles, so code generation is paid once per session instead of on every
run.  The reference had a bare ``SQLContext`` parameter threaded through
its dead Spark path (duplicatesuricate/connectors.py:236,
classifiers.py:77); here the session is an explicit, configured entry
point.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Entries of Spark's JVM-wide generated-class cache (static SQL conf
# ``spark.sql.codegen.cache.maxEntries``, default 100).  Measured on Spark
# 4.1.2: one ``dedup_pipeline`` run compiles 148-177 distinct classes and
# one ``incremental_dedup`` merge ~131, so the default LRU thrashed and
# every warm run recompiled them all (~150 x 10-13 ms of Janino time per
# warm 3k-file run on a 4-core host, plus re-JIT of the fresh classes).
# 1024 leaves >= 4x headroom over one run's working set.
CODEGEN_CACHE_ENTRIES = 1024


def get_spark(
    app_name: str = "duplicatesuricate_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` -> ``local[*]``.  On a real cluster, ship the package with
    ``spark-submit --py-files duplicatesuricate_spark.zip`` and drop the
    ``master`` call — every other setting below is cluster-safe.
    """
    # Large fresh allocations on this class of VM fault pages at ~40MB/s;
    # glibc returns mmap'd blocks (>128KB) to the OS on free, so every
    # Arrow/numpy batch refaults its buffers.  Raising the mmap threshold
    # keeps big blocks on the (reused) heap: one warm-up fault, then full
    # memory bandwidth.  Must be set before the JVM starts so the Python
    # worker daemons inherit it.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")

    cores_env = os.environ.get("SPARK_GRAFT_CPUS")
    if cores is None and cores_env:
        cores = int(cores_env)
    master = f"local[{cores}]" if cores else "local[*]"
    # 1x cores, not the former 2x: at local scale every shuffle stage ran
    # two waves of near-empty tasks, and an interleaved A/B at both 5k and
    # 50k docs measured 1x faster on every multi-shuffle query (dedup
    # 7.9 -> 5.6 s, ngram 2.0 -> 1.2 s at sf0.1; dedup 13.8 -> 9.6 s at
    # 10x) with no query slower.  On a real cluster the initial number
    # should be sized to data (set SPARK_GRAFT_SHUFFLE_PARTITIONS or the
    # shuffle_partitions argument; AQE coalesces/splits from there).
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    n_shuffle = shuffle_partitions or (
        int(shuffle_env) if shuffle_env else (cores if cores else 32)
    )

    # shuffle/spill scratch on tmpfs when it can actually hold the spill:
    # this sandbox's root disk is slow and near-full, and tmpfs pages skip
    # writeback entirely (on a real cluster spark.local.dir is the
    # provisioned local SSDs — same principle).  Gated on free space (many
    # hosts cap /dev/shm at 50% of RAM — a DISK_ONLY persist landing on a
    # nearly-full tmpfs ENOSPCs instead of spilling; round-2 advice): real
    # disk stays the default below 24 GiB free.  SPARK_LOCAL_DIRS overrides.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 24 << 30:
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # shuffle sizing: 1x cores locally; AQE coalesces the excess
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # static conf, so it only takes effect when the session is built
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the cache is keyed on the generated source, and a class name that
        # carries the codegen stage id follows AQE's timing-dependent
        # planning order: with it, repeated incremental merges still
        # recompiled 6-20 classes each; without it (the id stays in a code
        # comment) they compile 0-4
        .config("spark.sql.codegen.useIdInClassName", "false")
        # AQE: runtime re-planning, skew-join splitting, partition coalescing
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # near-dup rows are tiny in bytes but expensive in compute (sketch
        # UDFs, array intersections): AQE's 1MB minimum partition size
        # would coalesce post-shuffle stages down to a handful of tasks
        # and cap parallelism; 64k keeps task counts at cluster width
        # (irrelevant at real scale where shuffles exceed the floor)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime broadcast conversion: pair/candidate tables are usually
        # tiny after filtering even when their pre-shuffle estimates are
        # not — let AQE switch SMJ -> BHJ on observed sizes
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        # Arrow transfer for every pandas UDF; bounded batches so a
        # 128-int minhash column times a wide batch can't blow executor mem
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # near-dup workloads are compute-heavy per byte (shingling, sketch
        # UDFs): split scans finer than the 128m default or a 150MB corpus
        # reads as ~3 partitions and serializes the whole first stage
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        # pin initial == max heap AND pre-touch it: this VM services
        # first-touch page faults at ~40MB/s, globally serialized — a
        # shrinking/regrowing heap refaults pages mid-job, and worse with
        # more threads.  AlwaysPreTouch commits every heap page at JVM
        # start (~10 s, once per executor lifetime, amortized across jobs
        # on a real cluster) so no task ever faults a heap page mid-query:
        # measured 417 s -> 336 s on the 2M-doc pipeline at 8 cores
        # (BENCH/BASELINE.md round-5 A/B), and it is what makes
        # MEMORY_AND_DISK persistence profitable (see persist_level()).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                "-Xms12g -XX:+UseParallelGC -XX:+AlwaysPreTouch",
            ),
        )
        # executors get the same GC + pre-touch treatment on a real
        # cluster (ignored in local mode — there is no separate executor
        # JVM).  No -Xms here: executor heap is already pinned by
        # spark.executor.memory, and AlwaysPreTouch commits it at launch.
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get(
                "SPARK_EXECUTOR_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:+AlwaysPreTouch",
            ),
        )
        # propagate the malloc tuning to executor-side Python workers on a
        # real cluster (local mode inherits the driver env)
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
