"""Output oracle: checks one operation's outputs against the planted truth.

Runs outside every timer.  An operation fails when its assignments break
the sha256 invariant, do not assign every input file exactly once, recall
fewer than ``MIN_RECALL`` of the golden pairs, or merge falsely: fewer
than ``MIN_PRECISION`` of the accepted near-dup pairs reach
``PRECISION_JACCARD`` exact Jaccard.

The recall gate counts near-dup pairs and the planted containments inside
the substring channel's stated scope (see ``corpora.RECALL_KINDS``);
recall over every planted containment is reported beside it, ungated.
"""

from __future__ import annotations

import hashlib
import itertools

import pandas as pd

from duplicatesuricate_spark.functions.text import shingles_py

from corpora import CONTAINMENT_KINDS, RECALL_KINDS, jaccard

MIN_RECALL = 0.99
MIN_PRECISION = 0.95
# a near-dup pair below this exact Jaccard is a false merge
PRECISION_JACCARD = 0.5
# clusters above this size are checked member-to-root only
CLUSTER_PAIR_CAP = 64


class Oracle:
    """Truth for one workload input: the natural key -> doc_id map minted
    by the program's own ``read_corpus``, each document's content, and
    the golden pairs translated to doc ids."""

    def __init__(self, corpus: pd.DataFrame, ids: pd.DataFrame,
                 golden: list[tuple[tuple, tuple, str]]):
        key = ["repo", "path", "commit"]
        m = corpus.merge(ids, on=key, how="left", validate="one_to_one")
        if m["doc_id"].isna().any():
            raise ValueError("read_corpus minted no doc_id for some rows")
        self.content = dict(zip(m["doc_id"].astype("int64"), m["content"]))
        by_key = dict(zip(map(tuple, m[key].values), m["doc_id"].astype("int64")))
        self.golden = [(by_key[a], by_key[b], k) for a, b, k in golden]
        self._sha: dict[int, str] = {}
        self._sh: dict[int, set] = {}

    def sha(self, doc_id: int) -> str:
        if doc_id not in self._sha:
            self._sha[doc_id] = hashlib.sha256(
                self.content[doc_id].encode()).hexdigest()
        return self._sha[doc_id]

    def shingles(self, doc_id: int) -> set:
        if doc_id not in self._sh:
            self._sh[doc_id] = shingles_py(self.content[doc_id])
        return self._sh[doc_id]

    def check(self, assignments: pd.DataFrame, pairs: pd.DataFrame | None = None,
              doc_ids: set | None = None, recall_kinds=RECALL_KINDS) -> dict:
        """Check ``assignments`` (doc_id, content_sha256, cluster_id) and,
        when given, the accepted ``pairs`` (id_a, id_b, kind).

        ``doc_ids`` restricts the expected file set (and the golden pairs)
        to a subset of the input, e.g. the base of an incremental merge;
        ``recall_kinds`` selects the golden pair kinds the recall gate
        counts.
        Returns the verdict with every measured quantity."""
        expect = set(self.content) if doc_ids is None else set(doc_ids)
        errors = []
        ids = assignments["doc_id"].astype("int64")
        dup = int(ids.duplicated().sum())
        got = set(ids)
        missing, extra = len(expect - got), len(got - expect)
        if dup or missing or extra:
            errors.append(
                f"assignment not exactly-once: {dup} duplicated, "
                f"{missing} missing, {extra} unknown doc_ids")
        bad_sha = sum(
            1 for d, s in zip(ids, assignments["content_sha256"])
            if d in self.content and self.sha(d) != s
        )
        if bad_sha:
            errors.append(f"sha256 invariant broken on {bad_sha} rows")
        cluster = dict(zip(ids, assignments["cluster_id"].astype("int64")))
        def recall_of(kinds):
            pairs_ = [(a, b) for a, b, k in self.golden
                      if k in kinds and a in expect and b in expect]
            hit_ = sum(1 for a, b in pairs_
                       if a in cluster and cluster.get(a) == cluster.get(b))
            return hit_, len(pairs_)

        hit, n_golden = recall_of(recall_kinds)
        recall = hit / n_golden if n_golden else 1.0
        c_hit, n_cont = recall_of(CONTAINMENT_KINDS)
        if recall < MIN_RECALL:
            errors.append(
                f"dup-pair recall {recall:.4f} < {MIN_RECALL} "
                f"({n_golden - hit} of {n_golden} golden pairs split)")
        if pairs is not None:
            near = pairs[pairs["kind"] == "near_dup"]
            checked = list(zip(near["id_a"].astype("int64"),
                               near["id_b"].astype("int64")))
        else:
            checked = self._cluster_pairs(cluster)
        good = sum(1 for a, b in checked
                   if jaccard(self.shingles(a), self.shingles(b))
                   >= PRECISION_JACCARD)
        precision = good / len(checked) if checked else 1.0
        if precision < MIN_PRECISION:
            errors.append(
                f"near-dup precision {precision:.4f} < {MIN_PRECISION} "
                f"({len(checked) - good} of {len(checked)} pairs below "
                f"Jaccard {PRECISION_JACCARD})")
        return {
            "ok": not errors, "errors": errors, "files": len(ids),
            "golden_pairs": n_golden, "dup_pair_recall": recall,
            "planted_containments": n_cont,
            "containment_recall": c_hit / n_cont if n_cont else 1.0,
            "precision_pairs": len(checked), "near_dup_precision": precision,
        }

    @staticmethod
    def _cluster_pairs(cluster: dict) -> list[tuple[int, int]]:
        """Pairs a clustering asserts when no pair table is returned: all
        member pairs of each cluster, or member-to-root above the cap."""
        members: dict[int, list[int]] = {}
        for d, c in cluster.items():
            members.setdefault(c, []).append(d)
        out = []
        for root, ms in members.items():
            if len(ms) < 2:
                continue
            if len(ms) <= CLUSTER_PAIR_CAP:
                out.extend(itertools.combinations(sorted(ms), 2))
            else:
                out.extend((root, m) for m in ms if m != root)
        return out
