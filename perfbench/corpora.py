"""Seeded workload inputs with planted truth, cached as parquet.

Every input the program sees is a parquet directory written here and read
back through ``read_corpus``: building DataFrames from pandas in the
driver would measure ``createDataFrame`` instead of the scan the engine
runs in production.

A cached input is keyed by (workload, seed, size) and carries a manifest
with an order-insensitive content fingerprint; a cache entry whose
fingerprint no longer matches its parquet is regenerated.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import random
import re
import shutil
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow.parquet as pq

from duplicatesuricate_spark.config import DEFAULT_CONFIG
from duplicatesuricate_spark.functions.text import shingles_py
from duplicatesuricate_spark.sources import synth_corpus

KEY = ["repo", "path", "commit"]
GENERATOR_VERSION = "2"


def fingerprint(df: pd.DataFrame) -> str:
    """Order-insensitive fingerprint of a corpus frame: the row count plus
    the sum mod 2^64 of one 64-bit digest per row over every column."""
    acc = 0
    for row in df[KEY + ["lang", "content"]].itertuples(index=False):
        h = hashlib.blake2b("\x1f".join(row).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & ((1 << 64) - 1)
    return f"{len(df)}:{acc:016x}"


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 0.0


_SPLIT = re.compile(DEFAULT_CONFIG.token_pattern)


def norm_tokens(s: str) -> str:
    """The exact-substring verifier's normal form: lower-cased tokens joined
    by single spaces, with space sentinels for whole-token alignment."""
    return " " + " ".join(t for t in _SPLIT.split(s.lower()) if t) + " "


def contains(inner: str, outer: str) -> bool:
    return norm_tokens(inner) in norm_tokens(outer)


def anchored_chunks(content: str) -> int:
    """Distinct anchored chunks the sketch kernel derives from ``content``:
    the exact-substring channel only pairs documents with at least
    ``substring_min_chunks`` of them."""
    import pyarrow as pa

    from duplicatesuricate_spark.functions import sketch as sk

    a, b = sk._perm_constants(DEFAULT_CONFIG)
    flat, lens = sk._tokenize_hash_arrow(pa.array([content], type=pa.string()))
    seg = sk._sketch_segments(flat, lens, DEFAULT_CONFIG, a, b, True)
    return int(seg["ch_lens"][0])


# golden pair kinds: "near" (exact Jaccard >= threshold), "containment"
# (verified planted containment whose smaller document has enough anchored
# chunks for the substring channel) and "short_containment" (verified, but
# the smaller document is below that floor)
RECALL_KINDS = {"near", "containment"}
CONTAINMENT_KINDS = {"containment", "short_containment"}


@dataclass
class Input:
    """One generated workload input; ``golden`` holds (key_a, key_b, kind)
    natural-key pairs that should end in one cluster."""

    corpus: pd.DataFrame              # repo, path, commit, lang, content
    golden: list[tuple[tuple, tuple, str]]
    paths: dict[str, str]             # parquet role -> directory
    fingerprint: str


def _golden_pairs(corpus: pd.DataFrame, truth: pd.DataFrame,
                  with_containment: bool) -> list[tuple[tuple, tuple, str]]:
    """Planted-cluster pairs with exact 5-gram Jaccard >= the pinned
    acceptance threshold, plus verified planted containments."""
    content = dict(zip(map(tuple, corpus[KEY].values), corpus["content"]))
    thr = DEFAULT_CONFIG.jaccard_threshold
    out = []
    for _, grp in truth.groupby("cluster"):
        if len(grp) < 2:
            continue
        keys = [tuple(k) for k in grp[KEY].values]
        kinds = set(grp["kind"])
        if "exact_substring" in kinds:
            if not with_containment:
                continue
            for a, b in itertools.combinations(keys, 2):
                ca, cb = content[a], content[b]
                inner, outer = (ca, cb) if len(ca) <= len(cb) else (cb, ca)
                if contains(inner, outer):
                    short = anchored_chunks(inner) < DEFAULT_CONFIG.substring_min_chunks
                    out.append((a, b, "short_containment" if short else "containment"))
            continue
        sh = {k: shingles_py(content[k]) for k in keys}
        for a, b in itertools.combinations(keys, 2):
            if jaccard(sh[a], sh[b]) >= thr:
                out.append((a, b, "near"))
    return out


def _write(df: pd.DataFrame, path: Path, files: int) -> None:
    """Write ``df`` as a parquet directory of ``files`` part files, so the
    scan starts with that many partitions, as a real table would."""
    path.mkdir(parents=True)
    step = -(-len(df) // files)
    for i in range(files):
        part = df.iloc[i * step:(i + 1) * step]
        if len(part):
            part.to_parquet(path / f"part-{i:05d}.parquet", index=False)


def _generate(workload: str, seed: int, size: int):
    """-> (corpus, golden, roles) where roles maps a parquet role to the
    row positions it holds."""
    corpus, truth = synth_corpus(n_rows=size, seed=seed)
    # synth_corpus emits planted clusters first and singletons last: shuffle
    # so every part file (and the incremental delta) holds a mix
    order = list(range(len(corpus)))
    random.Random(seed ^ 0x5EED).shuffle(order)
    corpus = corpus.iloc[order].reset_index(drop=True)
    if workload == "near_dup":
        golden = _golden_pairs(corpus, truth, with_containment=True)
        return corpus, golden, {"corpus": range(len(corpus))}
    if workload == "incremental":
        # incremental_dedup has no substring channel: containments are not
        # part of its contract
        golden = _golden_pairs(corpus, truth, with_containment=False)
        n_base = int(len(corpus) * 0.9)
        return corpus, golden, {
            "base": range(n_base), "delta": range(n_base, len(corpus)),
        }
    raise ValueError(f"unknown workload {workload!r}")


def load(cache_root: Path, workload: str, seed: int, size: int,
         files: int) -> Input:
    """Generate the (workload, seed, size) input, or reuse its cache entry
    when the stored parquet still matches the manifest's fingerprint."""
    d = cache_root / f"{workload}-s{seed}-n{size}-f{files}-g{GENERATOR_VERSION}"
    manifest = d / "manifest.json"
    if manifest.exists():
        meta = json.loads(manifest.read_text())
        corpus = pd.concat(
            [pq.read_table(d / role).to_pandas() for role in meta["roles"]],
            ignore_index=True,
        )
        if fingerprint(corpus) == meta["fingerprint"]:
            golden = [(tuple(a), tuple(b), k) for a, b, k in meta["golden"]]
            return Input(corpus, golden, {r: str(d / r) for r in meta["roles"]},
                         meta["fingerprint"])
    if d.exists():
        shutil.rmtree(d)
    corpus, golden, roles = _generate(workload, seed, size)
    for role, rows in roles.items():
        _write(corpus.iloc[list(rows)], d / role, files)
    fp = fingerprint(corpus)
    manifest.write_text(json.dumps({
        "workload": workload, "seed": seed, "size": size, "files": files,
        "roles": list(roles), "fingerprint": fp, "golden": golden,
    }))
    return Input(corpus, golden, {r: str(d / r) for r in roles}, fp)
