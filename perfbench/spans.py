"""Traced runs: spans around the calls into each module, from this file.

A span times one call into a module's public functions and materializes
its output, so that the work lands inside the span.  Each span sets one
Spark job group; after the session stops, the JSON event log is folded
per job group into executor time, shuffle bytes, spill bytes and task
skew.  Domain counters are computed between spans under the ``_counters``
group, outside every span.

The compositions below restate ``dedup_pipeline`` and
``incremental_dedup`` call for call.  A traced run also runs the program's
own entry point untraced and requires identical assignments, so the
restatement cannot drift silently from the program.
"""

from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.functions.util import ensure_min_partitions, persist_level
from duplicatesuricate_spark.sources import read_corpus, resolve_id_collisions
from duplicatesuricate_spark.functions.sketch import with_full_sketches
from duplicatesuricate_spark.operators.dedup import exact_dup_edges
from duplicatesuricate_spark.operators.lsh import (
    band_explode, candidate_pairs, simhash_block_explode,
)
from duplicatesuricate_spark.operators.score import score_and_verify
from duplicatesuricate_spark.operators.substring import (
    substring_candidates, verify_containment,
)
from duplicatesuricate_spark.operators.components import (
    assignments_with_singletons, connected_components,
)
from duplicatesuricate_spark.streaming.incremental import _SKETCH_COLS, DedupState

SPARK_FIELDS = ("executor_run_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes", "task_skew")
# connected_components' default: edge sets up to this size take the
# driver union-find path
CC_DRIVER_THRESHOLD = 2_000_000


class Tracer:
    """Flat spans keyed by name; a name entered twice accumulates."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, dict] = {}
        self.sc.setJobGroup("_other", "_other")

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def counters(self) -> "_Group":
        return _Group(self.sc, "_counters")

    def record(self, name: str) -> dict:
        return self.spans.setdefault(name, {"self_s": 0.0, "rows_out": 0})


class _Group:
    def __init__(self, sc, group: str):
        self.sc, self.group = sc, group

    def __enter__(self):
        self.sc.setJobGroup(self.group, self.group)
        return self

    def __exit__(self, *exc):
        self.sc.setJobGroup("_other", "_other")


class _Span(_Group):
    def __init__(self, tracer: Tracer, name: str):
        super().__init__(tracer.sc, name)
        self.rec = tracer.record(name)

    def __enter__(self):
        super().__enter__()
        self.t0 = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["self_s"] += time.perf_counter() - self.t0
        super().__exit__(*exc)


def fold_event_log(log_dir: Path) -> dict[str, dict]:
    """Spark JSON event log -> per job group: executor run time, shuffle
    write/read bytes, spill bytes (memory + disk) and task skew.

    Task skew is each stage's max/median task run time, averaged over the
    group's stages weighted by their executor time."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    # Spark writes a rolling log: one directory of event files per app
    for f in sorted(log_dir.rglob("events_*")):
        with f.open() as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "_other")
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
    out: dict[str, dict] = {}
    skew_acc: dict[str, list[tuple[float, float]]] = {}
    for sid, ms in tasks.items():
        g = out.setdefault(stage_group.get(sid, "_other"),
                           dict.fromkeys(SPARK_FIELDS, 0.0))
        runs = [m.get("Executor Run Time", 0) / 1e3 for m in ms]
        g["executor_run_s"] += sum(runs)
        for m in ms:
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        if len(runs) >= 2 and sum(runs) > 0:
            med = max(statistics.median(runs), 1e-3)
            skew_acc.setdefault(stage_group.get(sid, "_other"), []).append(
                (max(runs) / med, sum(runs)))
    for group, pairs in skew_acc.items():
        w = sum(t for _, t in pairs)
        out[group]["task_skew"] = sum(s * t for s, t in pairs) / w
    return out


def kernel_time(docs: list[str], cfg=DEFAULT_CONFIG, batch: int = 4096) -> float:
    """Seconds the sketch module's numpy kernel spends on ``docs`` in this
    process, in Arrow batches of the session's batch size, without Spark."""
    import pyarrow as pa

    from duplicatesuricate_spark.functions import sketch as sk

    a, b = sk._perm_constants(cfg)
    cols = [pa.array(docs[i:i + batch], type=pa.string())
            for i in range(0, len(docs), batch)]
    t0 = time.perf_counter()
    for col in cols:
        flat, lens = sk._tokenize_hash_arrow(col)
        seg = sk._sketch_segments(flat, lens, cfg, a, b, True)
        sk._sketch_arrow_arrays(seg, cfg, True)
    return time.perf_counter() - t0


def _keep(df: DataFrame, owned: list) -> DataFrame:
    df = df.persist(persist_level())
    owned.append(df)
    return df


def traced_dedup(tr: Tracer, spark, corpus_path: str, out_dir: Path,
                 content: dict[int, str], cfg=DEFAULT_CONFIG) -> dict:
    """``dedup_pipeline`` restated with one span per module call; writes
    assignments and pairs under ``out_dir`` like the untraced operation.
    Returns the domain counters per span."""
    owned: list = []
    c: dict[str, dict] = {}
    with tr.span("sources.corpus") as rec:
        raw = read_corpus(spark, corpus_path)
        corpus = resolve_id_collisions(raw) if cfg.repair_id_collisions else raw
        ids_slim = _keep(corpus.select("doc_id", "content_sha256"), owned)
        rec["rows_out"] += ids_slim.count()
    with tr.counters():
        c["sources.corpus"] = {"collisions_repaired": ids_slim.join(
            raw.select("doc_id"), "doc_id", "left_anti").count()}
    with tr.span("operators.dedup.exact") as rec:
        reps, exact_edges = exact_dup_edges(
            corpus, persist=True, cache_registry=owned, ids=ids_slim)
        edges = exact_edges.count()
        reps = ensure_min_partitions(reps)
        n_reps = reps.count()
        rec["rows_out"] += n_reps
    c["operators.dedup.exact"] = {
        "reps": n_reps, "edges": edges,
        "rep_ratio": n_reps / max(1, n_reps + edges)}
    with tr.span("functions.sketch") as rec:
        sketched = _keep(with_full_sketches(
            reps, cfg=cfg, with_chunks=True,
            project=["doc_id", "content_sha256"]), owned)
        rec["rows_out"] += sketched.count()
    with tr.counters():
        rep_ids = sketched.select("doc_id").toPandas()["doc_id"].tolist()
    docs = [content[d] for d in rep_ids]
    k = kernel_time(docs, cfg)
    c["functions.sketch"] = {"docs": len(docs), "kernel_s": k,
                             "kernel_docs_per_s": len(docs) / k}
    with tr.span("operators.lsh") as rec:
        bands = band_explode(sketched, cfg).unionByName(
            simhash_block_explode(sketched, cfg))
        cands = _keep(candidate_pairs(bands, cfg, cache_registry=owned), owned)
        n_cands = cands.count()
        rec["rows_out"] += n_cands
    with tr.counters():
        c["operators.lsh"] = _lsh_counts(bands, cfg) | {"candidates": n_cands}
    with tr.span("operators.score") as rec:
        near = _keep(score_and_verify(cands, sketched, cfg).withColumn(
            "kind", F.lit("near_dup")), owned)
        accepted = near.count()
        rec["rows_out"] += accepted
    c["operators.score"] = {"accepted": accepted,
                            "accept_ratio": accepted / max(1, n_cands)}
    with tr.span("operators.substring.candidates") as rec:
        sub_c = _keep(substring_candidates(
            sketched.select("doc_id", "chunks"), cfg, cache_registry=owned), owned)
        n_sub = sub_c.count()
        rec["rows_out"] += n_sub
    c["operators.substring.candidates"] = {"candidates": n_sub}
    with tr.span("operators.substring.verify") as rec:
        sub = _keep(verify_containment(sub_c, corpus, cfg).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        ).distinct(), owned)
        verified = sub.count()
        rec["rows_out"] += verified
    c["operators.substring.verify"] = {
        "verified": verified, "accept_ratio": verified / max(1, n_sub)}
    with tr.span("operators.dedup.union") as rec:
        sub = sub.select("id_a", "id_b", F.lit(1.0).alias("jaccard"),
                         F.lit(0).alias("hamming"), F.lit("exact_substring").alias("kind"))
        exact = exact_edges.select("id_a", "id_b", F.lit(1.0).alias("jaccard"),
                                   F.lit(0).alias("hamming"), F.lit("exact").alias("kind"))
        all_pairs = _keep(
            near.unionByName(sub).unionByName(exact).groupBy("id_a", "id_b").agg(
                F.max("jaccard").alias("jaccard"), F.min("hamming").alias("hamming"),
                F.min("kind").alias("kind")), owned)
        n_pairs = all_pairs.count()
        rec["rows_out"] += n_pairs
    c["operators.dedup.union"] = {"pairs": n_pairs}
    with tr.span("operators.components") as rec:
        comps = _keep(connected_components(all_pairs), owned)
        rec["rows_out"] += comps.count()
    with tr.counters():
        c["operators.components"] = _cc_counts(all_pairs, comps)
    with tr.span("outputs") as rec:
        assignments = assignments_with_singletons(ids_slim, comps)
        assignments.write.parquet(str(out_dir / "assignments"))
        all_pairs.write.parquet(str(out_dir / "pairs"))
        rec["rows_out"] += len(content)
    for df in owned:
        df.unpersist()
    return c


def traced_incremental(tr: Tracer, spark, delta_path: str, state_dir: Path,
                       cfg=DEFAULT_CONFIG) -> dict:
    """``incremental_dedup`` restated with one span per module call; state
    reads, the anti-join and the state writes are ``streaming.incremental``.
    Returns the domain counters per span."""
    from pyspark.sql import Window

    c: dict[str, dict] = {}
    with tr.span("sources.corpus") as rec:
        new_corpus = read_corpus(spark, delta_path)
        rec["rows_out"] += new_corpus.count()
    with tr.span("streaming.incremental"):
        state = DedupState(spark, str(state_dir))
        state.check_universe(cfg)
        old_sk = state.sketches()
        old_assign = state.assignments()
        fresh = ensure_min_partitions(
            new_corpus.join(old_sk.select("doc_id"), "doc_id", "left_anti"))
    owned: list = []
    with tr.span("functions.sketch") as rec:
        fresh_sk = _keep(with_full_sketches(
            fresh, cfg=cfg, project=["doc_id", "content_sha256"]), owned)
        rec["rows_out"] += fresh_sk.count()
    all_sk = old_sk.unionByName(fresh_sk)
    with tr.span("operators.lsh") as rec:
        all_bands = band_explode(all_sk, cfg).unionByName(
            simhash_block_explode(all_sk, cfg))
        fresh_bands = band_explode(fresh_sk, cfg).unionByName(
            simhash_block_explode(fresh_sk, cfg)).select("band_hash").distinct()
        touched = all_bands.join(fresh_bands, ["band_hash"], "left_semi")
        cands = _keep(candidate_pairs(touched, cfg, cache_registry=owned), owned)
        n_cands = cands.count()
        rec["rows_out"] += n_cands
    with tr.counters():
        c["operators.lsh"] = _lsh_counts(touched, cfg) | {"candidates": n_cands}
    with tr.span("operators.score") as rec:
        new_pairs = _keep(score_and_verify(cands, all_sk, cfg), owned)
        accepted = new_pairs.count()
        rec["rows_out"] += accepted
    c["operators.score"] = {"accepted": accepted,
                            "accept_ratio": accepted / max(1, n_cands)}
    with tr.span("operators.components") as rec:
        old_edges = old_assign.where(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("cluster_id").alias("id_a"), F.col("doc_id").alias("id_b"))
        fresh_shas = fresh_sk.select("content_sha256").distinct()
        w = Window.partitionBy("content_sha256")
        sha_edges = (
            all_sk.select("doc_id", "content_sha256")
            .join(fresh_shas, "content_sha256", "left_semi")
            .withColumn("rep", F.min("doc_id").over(w))
            .where(F.col("doc_id") != F.col("rep"))
            .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
        )
        edges = _keep(new_pairs.select("id_a", "id_b").unionByName(old_edges)
                      .unionByName(sha_edges).distinct(), owned)
        comps = _keep(connected_components(edges), owned)
        rec["rows_out"] += comps.count()
    with tr.counters():
        c["operators.components"] = _cc_counts(edges, comps)
    with tr.span("streaming.incremental") as rec:
        state.write("assignments", assignments_with_singletons(
            all_sk.select("doc_id", "content_sha256"), comps))
        state.append("sketches", fresh_sk.select(*_SKETCH_COLS))
        for df in owned:
            df.unpersist()
    with tr.counters():
        tr.record("streaming.incremental")["rows_out"] += state.assignments().count()
    return c


def _lsh_counts(bands: DataFrame, cfg) -> dict:
    sizes = bands.groupBy("band_hash").count()
    return {
        "band_rows": bands.count(),
        "hot_buckets": sizes.where(F.col("count") > cfg.hot_band_cap).count(),
    }


def _cc_counts(pairs: DataFrame, comps: DataFrame) -> dict:
    edges = pairs.where(F.col("id_a") != F.col("id_b")).count()
    return {
        "edges": edges,
        "components": comps.select("cluster_id").distinct().count(),
        "path_distributed": int(edges > CC_DRIVER_THRESHOLD),
    }
