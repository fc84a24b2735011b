"""Flagship benchmark: near-duplicate dedup end to end, and per module.

    python3 perfbench/run.py --workload near_dup --seed 1 --seconds 5 --trace 0

Run from the repository root.  One closed-loop client keeps one operation
in flight on a ``local[nproc]`` session in this process.  Inputs are
generated from ``--seed`` as parquet and always enter the program through
``read_corpus``.  Every operation's outputs are checked by the oracle
(``oracle.py``) outside the timers.

Workloads (see README.md for why each exists):
  near_dup     one ``dedup_pipeline`` call per operation, after one
               untimed warm-up call.
  incremental  set-up builds state from 90% of the corpus with
               ``incremental_dedup`` (this is also the warm-up); each
               operation merges the other 10% into a fresh copy of it.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
operation untraced once and then once as a traced composition, and prints
the per-layer metrics.  The traced ``near_dup`` run warms up with one
``run_dedup_checkpointed`` into an empty work dir, timed as the
``plans.resume`` span.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent

WORKLOADS = {
    # size: generated files; files: parquet part files per input table
    "near_dup": {"size": 3000, "files": 8},
    "incremental": {"size": 4000, "files": 8},
}
# the session heap is pinned small and not pre-touched: the program's
# default (-Xms12g + AlwaysPreTouch) commits most of a 15 GB host's RAM
# before the Python workers start
HEAP = "3g"
JAVA_OPTS = f"-Xms{HEAP} -XX:+UseParallelGC"
# a run must end within 180 s; stop starting operations after this
DEADLINE_S = 135.0
# environment knobs of the program that would change what is measured
PROGRAM_ENV = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
               "SPARK_GRAFT_PERSIST_LEVEL", "SPARK_DRIVER_MEM",
               "SPARK_DRIVER_JAVA_OPTS", "SPARK_EXECUTOR_JAVA_OPTS")

END_TO_END = [
    ("setup_s", "s"), ("wall_s", "s"), ("files_per_s", "1/s"),
    ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("write_amp", "ratio"),
    ("dup_pair_recall", "ratio"), ("near_dup_precision", "ratio"),
    ("ok_frac", "ratio"),
]

SPANS = [
    "sources.corpus", "operators.dedup.exact", "functions.sketch",
    "operators.lsh", "operators.score", "operators.substring.candidates",
    "operators.substring.verify", "operators.dedup.union",
    "operators.components", "outputs", "streaming.incremental",
    "plans.resume",
]
CKPT_STAGES = ["corpus_ids", "dup_map", "reps", "exact_edges", "sketches",
               "candidates", "near_pairs", "substring_pairs", "all_pairs",
               "assignments"]
EXTRA = {
    "sources.corpus": [("collisions_repaired", "count")],
    "operators.dedup.exact": [("reps", "count"), ("edges", "count"),
                              ("rep_ratio", "ratio")],
    "functions.sketch": [("docs", "count"), ("kernel_s", "s"),
                         ("kernel_docs_per_s", "1/s")],
    "operators.lsh": [("band_rows", "count"), ("candidates", "count"),
                      ("hot_buckets", "count")],
    "operators.score": [("accepted", "count"), ("accept_ratio", "ratio")],
    "operators.substring.candidates": [("candidates", "count")],
    "operators.substring.verify": [("verified", "count"), ("accept_ratio", "ratio"),
                                   ("planted_recall", "ratio")],
    "operators.dedup.union": [("pairs", "count")],
    "operators.components": [("edges", "count"), ("components", "count"),
                             ("path_distributed", "count")],
    "streaming.incremental": [("state_read_bytes", "bytes"),
                              ("state_written_bytes", "bytes")],
    "plans.resume": [("noop_resume_s", "s"), ("write_amp", "ratio"),
                     ("containment_recall", "ratio")]
    + [(f"bytes.{s}", "bytes") for s in CKPT_STAGES],
}
SPAN_FIELDS = [("self_s", "s"), ("rows_out", "count"), ("executor_run_s", "s"),
               ("shuffle_write_bytes", "bytes"), ("shuffle_read_bytes", "bytes"),
               ("spill_bytes", "bytes"), ("task_skew", "ratio")]


def layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in a fixed order."""
    out = [("session.start_s", "s")]
    for span in SPANS:
        out += [(f"{span}.{f}", u) for f, u in SPAN_FIELDS]
        out += [(f"{span}.{f}", u) for f, u in EXTRA.get(span, [])]
    out += [("trace.untraced_s", "s"), ("trace.traced_s", "s"),
            ("trace.overhead_s", "s")]
    return out


class RunTimeout(BaseException):
    """Raised by the run's alarm; a BaseException so that no operation's
    failure handler absorbs it."""


def bytes_of(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def read_parquet(path: Path):
    import pyarrow.parquet as pq

    return pq.read_table(str(path)).to_pandas()


class Run:
    """One benchmark process: session, input, operations and their checks."""

    def __init__(self, args):
        self.args = args
        self.t_start = time.monotonic()
        self.work = ROOT / ".perfbench_work"
        self.run_dir = self.work / f"run-{os.getpid()}"
        self.samples: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None

    # ------------------------------------------------------------- session
    def start(self) -> None:
        import proc
        from corpora import load

        for k in PROGRAM_ENV:
            os.environ.pop(k, None)
        tmp = self.run_dir / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.run_dir / "spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        wl = WORKLOADS[self.args.workload]
        self.input = load(self.work / "cache", self.args.workload, self.args.seed,
                          wl["size"], wl["files"])
        self.host = proc.host()
        self.conf = {
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}",
            "spark.local.dir": str(self.run_dir / "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            self.event_dir = self.run_dir / "eventlog"
            self.event_dir.mkdir()
            self.conf |= {"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": str(self.event_dir),
                          "spark.eventLog.compress": "false"}
        from duplicatesuricate_spark import DEFAULT_CONFIG

        self.stamp = {
            **self.host, "rev": proc.code_rev(ROOT), "seed": self.args.seed,
            "workload": self.args.workload, "input": self.input.fingerprint,
            "config": hashlib.sha256(json.dumps(
                [repr(DEFAULT_CONFIG), wl, HEAP, JAVA_OPTS], sort_keys=True
            ).encode()).hexdigest()[:12],
        }

        from duplicatesuricate_spark import get_spark

        self.phase("input ready")
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cores=self.host["nproc"],
                               extra_conf=self.conf)
        self.start_s = time.perf_counter() - t0
        self.scan_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            ids = self.scan()
            self.scan_s.append(time.perf_counter() - t0)
        self.setup_s = self.start_s + statistics.median(self.scan_s)
        from oracle import Oracle

        self.ids = ids
        self.oracle = Oracle(self.input.corpus, ids, self.input.golden)
        self.phase("setup done")
        self.content_bytes = {
            role: int(sum(len(c.encode()) for c in read_parquet(Path(p))["content"]))
            for role, p in self.input.paths.items()
        }

    def scan(self):
        """Warm scan of every input table through ``read_corpus``: mints the
        identity columns for every row; returns the natural key -> doc_id map."""
        from duplicatesuricate_spark.sources import read_corpus

        frames = [read_corpus(self.spark, p).select(
            "repo", "path", "commit", "doc_id", "content_sha256").toPandas()
            for p in self.input.paths.values()]
        import pandas as pd

        return pd.concat(frames, ignore_index=True)[["repo", "path", "commit", "doc_id"]]

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and with it the Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc_ = getattr(gw, "proc", None)
        if proc_ is not None:
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc_.stdin:
                proc_.stdin.close()
            try:
                proc_.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc_.kill()
                proc_.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    # ---------------------------------------------------------- operations
    def verdict(self, name: str, v: dict) -> dict:
        self.attempted += 1
        if not v["ok"]:
            self.failed += 1
            self.errors += [f"{name}: {e}" for e in v["errors"]]
        return v

    def guarded(self, name: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.attempted += 1
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            return None

    def measured(self, fn) -> dict:
        import proc

        # start every operation from a collected heap, so that one
        # operation's garbage is not collected inside the next one's timer
        self.spark.sparkContext._jvm.System.gc()
        l0 = proc.load1()
        with proc.TreeMeter() as m:
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
        return {"wall_s": wall, "cpu_s": m.cpu_s, "peak_rss_mb": m.peak_rss_mb,
                "load1_before": l0, "load1_after": proc.load1()}

    def near_dup_op(self, out: Path) -> dict:
        from duplicatesuricate_spark.operators import dedup_pipeline
        from duplicatesuricate_spark.sources import read_corpus

        holder = {}

        def op():
            res = dedup_pipeline(read_corpus(self.spark, self.input.paths["corpus"]))
            res.assignments.write.parquet(str(out / "assignments"))
            res.pairs.write.parquet(str(out / "pairs"))
            holder["res"] = res

        s = self.measured(op)
        holder["res"].unpersist()
        v = self.verdict("dedup_pipeline", self.oracle.check(
            read_parquet(out / "assignments"), read_parquet(out / "pairs")))
        return s | {
            "files": len(self.input.corpus),
            "files_per_s": len(self.input.corpus) / s["wall_s"],
            "write_amp": bytes_of(out) / self.content_bytes["corpus"],
            "dup_pair_recall": v["dup_pair_recall"],
            "containment_recall": v["containment_recall"],
            "near_dup_precision": v["near_dup_precision"], "ok": v["ok"],
        }

    def checkpointed_op(self, work: Path) -> dict:
        """``run_dedup_checkpointed`` into an empty work dir, then a resume
        over the completed dir.

        Its recall gate counts near-dup pairs only: this runner's substring
        stage chunks with the JVM tokenizer, a different anchor universe
        from the batch kernel's, so the kernel-defined containment scope
        does not apply.  Its recall over all planted containments is
        reported, ungated."""
        from duplicatesuricate_spark.plans.resume import run_dedup_checkpointed
        from duplicatesuricate_spark.sources import read_corpus

        path = self.input.paths["corpus"]
        s = self.measured(lambda: run_dedup_checkpointed(
            self.spark, read_corpus(self.spark, path), str(work)))
        t0 = time.perf_counter()
        run_dedup_checkpointed(self.spark, read_corpus(self.spark, path), str(work))
        s["noop_resume_s"] = time.perf_counter() - t0
        near = read_parquet(work / "near_pairs").assign(kind="near_dup")
        v = self.verdict("run_dedup_checkpointed", self.oracle.check(
            read_parquet(work / "assignments"), near, recall_kinds={"near"}))
        s["containment_recall"] = v["containment_recall"]
        s["stage_bytes"] = {st: bytes_of(work / st) for st in CKPT_STAGES}
        s["write_amp"] = bytes_of(work) / self.content_bytes["corpus"]
        return s | {"ok": v["ok"]}

    def base_state(self, state: Path) -> None:
        from duplicatesuricate_spark.sources import read_corpus
        from duplicatesuricate_spark.streaming.incremental import incremental_dedup

        incremental_dedup(self.spark, read_corpus(self.spark, self.input.paths["base"]),
                          str(state))
        key = ["repo", "path", "commit"]
        base_ids = set(read_parquet(Path(self.input.paths["base"]))[key]
                       .merge(self.ids, on=key)["doc_id"])
        self.verdict("incremental_dedup (base)", self.oracle.check(
            read_parquet(state / "assignments"), doc_ids=base_ids))

    def incremental_op(self, base: Path, state: Path, fn=None) -> dict:
        import proc
        from duplicatesuricate_spark.sources import read_corpus
        from duplicatesuricate_spark.streaming.incremental import incremental_dedup

        shutil.copytree(base, state)
        before = proc.tree_bytes(state)
        delta = self.input.paths["delta"]
        if fn is None:
            def fn():
                incremental_dedup(self.spark, read_corpus(self.spark, delta), str(state))
        s = self.measured(fn)
        after = proc.tree_bytes(state)
        written = sum(n for k, n in after.items() if k not in before)
        v = self.verdict("incremental_dedup", self.oracle.check(
            read_parquet(state / "assignments")))
        n_delta = len(read_parquet(Path(delta)))
        return s | {
            "files": n_delta, "files_per_s": n_delta / s["wall_s"],
            "write_amp": written / self.content_bytes["delta"],
            "state_read_bytes": sum(before.values()), "state_written_bytes": written,
            "dup_pair_recall": v["dup_pair_recall"],
            "containment_recall": v["containment_recall"],
            "near_dup_precision": v["near_dup_precision"], "ok": v["ok"],
        }

    # ----------------------------------------------------------------- runs
    def timed_loop(self, op) -> None:
        """Closed loop: operations back to back until ``--seconds`` of
        measured time, at least one, while the run deadline allows."""
        spent = 0.0
        i = 0
        while True:
            self.phase(f"op{i}")
            s = self.guarded(f"op{i}", lambda: op(i))
            if s is None:
                break
            self.sample(s)
            spent += s["wall_s"]
            i += 1
            elapsed = time.monotonic() - self.t_start
            if spent >= self.args.seconds or elapsed + 1.5 * s["wall_s"] > DEADLINE_S:
                break

    def phase(self, name: str) -> None:
        print(f"phase {name} at {time.monotonic() - self.t_start:.1f} s",
              file=sys.stderr, flush=True)

    def sample(self, s: dict) -> None:
        row = {k: v for k, v in s.items() if not isinstance(v, dict)} | self.stamp
        self.samples.append(row)
        print("sample " + json.dumps(row, sort_keys=True), flush=True)

    def end_to_end(self) -> dict:
        wl = self.args.workload
        if wl == "near_dup":
            self.guarded("warm-up", lambda: self.near_dup_op(self.run_dir / "warm"))
            self.timed_loop(lambda i: self.near_dup_op(self.run_dir / f"out{i}"))
        else:
            base = self.run_dir / "base_state"
            self.guarded("base state", lambda: self.base_state(base))
            self.timed_loop(lambda i: self.incremental_op(base, self.run_dir / f"state{i}"))
        if not self.samples:
            return {}
        out = {k: statistics.median(s[k] for s in self.samples)
               for k in ("wall_s", "files_per_s", "cpu_s", "peak_rss_mb",
                         "write_amp", "dup_pair_recall", "near_dup_precision")}
        out["setup_s"] = self.setup_s
        out["ok_frac"] = 1.0 - self.failed / max(1, self.attempted)
        return out

    def traced(self) -> dict:
        from spans import Tracer, fold_event_log, traced_dedup, traced_incremental

        wl = self.args.workload
        tr = Tracer(self.spark)
        counts: dict[str, dict] = {}
        if wl == "near_dup":
            # the checkpointed call doubles as the warm-up: it is the first
            # operation in the process, so plans.resume is measured cold
            ck = self.run_dir / "ckpt"
            with tr.span("plans.resume") as rec:
                s = self.guarded("checkpointed", lambda: self.checkpointed_op(ck))
            if s is not None:
                rec["self_s"] = s["wall_s"]
                rec["rows_out"] = len(self.input.corpus)
                counts["plans.resume"] = {
                    "noop_resume_s": s["noop_resume_s"], "write_amp": s["write_amp"],
                    "containment_recall": s["containment_recall"],
                } | {f"bytes.{k}": n for k, n in s["stage_bytes"].items()}
            plain = self.guarded("untraced", lambda: self.near_dup_op(self.run_dir / "plain"))
            out = self.run_dir / "traced"
            out.mkdir()
            t0 = time.perf_counter()
            c = self.guarded("traced", lambda: traced_dedup(
                tr, self.spark, self.input.paths["corpus"], out, self.oracle.content))
            traced_s = time.perf_counter() - t0
            if c is not None:
                counts |= c
                v = self.verdict("traced dedup", self.oracle.check(
                    read_parquet(out / "assignments"), read_parquet(out / "pairs")))
                counts["operators.substring.verify"]["planted_recall"] = \
                    v["containment_recall"]
            plain_dir = self.run_dir / "plain"
        else:
            base = self.run_dir / "base_state"
            self.guarded("base state", lambda: self.base_state(base))
            plain = self.guarded("untraced", lambda: self.incremental_op(
                base, self.run_dir / "plain"))
            holder = {}
            t0 = time.perf_counter()
            st = self.guarded("traced", lambda: self.incremental_op(
                base, self.run_dir / "traced",
                fn=lambda: holder.update(c=traced_incremental(
                    tr, self.spark, self.input.paths["delta"], self.run_dir / "traced"))))
            traced_s = st["wall_s"] if st else time.perf_counter() - t0
            if st is not None:
                counts |= holder["c"]
                counts["streaming.incremental"] = {
                    "state_read_bytes": st["state_read_bytes"],
                    "state_written_bytes": st["state_written_bytes"]}
            plain_dir = self.run_dir / "plain"
        # drift guard: the restated composition must assign exactly like
        # the program's own entry point
        if plain is not None and (self.run_dir / "traced" / "assignments").exists():
            a = read_parquet(plain_dir / "assignments").sort_values("doc_id")
            b = read_parquet(self.run_dir / "traced" / "assignments").sort_values("doc_id")
            if not (a[["doc_id", "cluster_id"]].to_numpy().tolist()
                    == b[["doc_id", "cluster_id"]].to_numpy().tolist()):
                self.failed += 1
                self.errors.append("drift: traced assignments differ from the "
                                   "untraced entry point's")
        self.stop()
        spark_metrics = fold_event_log(self.event_dir)
        m = {"session.start_s": self.start_s}
        for span in SPANS:
            rec = tr.spans.get(span, {})
            sp = spark_metrics.get(span, {})
            for f, _ in SPAN_FIELDS:
                m[f"{span}.{f}"] = rec.get(f, sp.get(f, 0.0))
            for f, _ in EXTRA.get(span, []):
                m[f"{span}.{f}"] = counts.get(span, {}).get(f, 0)
        untraced = plain["wall_s"] if plain else 0.0
        spanned = sum(r["self_s"] for k, r in tr.spans.items() if k != "plans.resume")
        m |= {"trace.untraced_s": untraced, "trace.traced_s": spanned,
              "trace.overhead_s": spanned - untraced}
        print(f"traced composition wall {traced_s:.3f} s", flush=True)
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "duplicatesuricate_spark" / "__init__.py").is_file():
        print(f"program sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]

    run = Run(args)

    def on_alarm(*_):
        raise RunTimeout("benchmark run exceeded its time limit")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(170)
    try:
        run.start()
        metrics = run.traced() if args.trace else run.end_to_end()
    finally:
        signal.alarm(0)
        run.stop()
        shutil.rmtree(run.run_dir, ignore_errors=True)
    for e in run.errors:
        print("FAILED " + e, file=sys.stderr)
    units = dict(layer_metrics()) if args.trace else dict(END_TO_END)
    if set(metrics) != set(units):
        print(f"no result: missing metrics {sorted(set(units) - set(metrics))}",
              file=sys.stderr)
        return 3
    result = {
        "correct": run.failed == 0 and not run.errors,
        "attempted": max(1, run.attempted), "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
