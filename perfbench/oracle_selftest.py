"""Self-test of the output oracle, without Spark: a perfect clustering
passes, and each planted defect is flagged.

    python3 perfbench/oracle_selftest.py
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))

import pandas as pd  # noqa: E402

from corpora import KEY, _golden_pairs  # noqa: E402
from oracle import Oracle  # noqa: E402
from duplicatesuricate_spark.sources import synth_corpus  # noqa: E402


def main() -> int:
    corpus, truth = synth_corpus(n_rows=60, seed=7)
    golden = _golden_pairs(corpus, truth, with_containment=True)
    ids = corpus[KEY].assign(doc_id=range(1000, 1000 + len(corpus)))
    oracle = Oracle(corpus, ids, golden)
    doc = dict(zip(map(tuple, ids[KEY].values), ids["doc_id"]))
    cl = dict(zip(map(tuple, truth[KEY].values), truth["cluster"]))
    # perfect answer: planted clusters, cluster_id = smallest member
    assign = pd.DataFrame({"doc_id": [doc[k] for k in cl],
                           "cluster": list(cl.values())})
    assign["cluster_id"] = assign.groupby("cluster")["doc_id"].transform("min")
    assign["content_sha256"] = [oracle.sha(d) for d in assign["doc_id"]]
    assign = assign[["doc_id", "content_sha256", "cluster_id"]]
    a, b, _ = next(g for g in golden if g[2] == "near")
    pairs = pd.DataFrame({"id_a": [doc[a]], "id_b": [doc[b]], "kind": ["near_dup"]})
    singles = [doc[k] for k, k_cl in cl.items()
               if (truth["cluster"] == k_cl).sum() == 1][:2]

    def split_one(df):
        df = df.copy()
        df.loc[df["doc_id"] == doc[b], "cluster_id"] = doc[b]
        return df

    def false_merge(df):
        df = df.copy()
        df.loc[df["doc_id"] == singles[1], "cluster_id"] = singles[0]
        return df

    cases = {
        "perfect": (assign, pairs, True, None),
        "dropped golden pair": (split_one(assign), pairs, False, "recall"),
        "false merge (clusters)": (false_merge(assign), None, False, "precision"),
        "false merge (pairs)": (
            assign,
            pd.concat([pairs, pd.DataFrame({"id_a": [singles[0]], "id_b": [singles[1]],
                                            "kind": ["near_dup"]})]),
            False, "precision"),
        "file assigned twice": (pd.concat([assign, assign.iloc[:1]]), pairs,
                                False, "exactly-once"),
        "file missing": (assign.iloc[1:], pairs, False, "exactly-once"),
        "sha256 changed": (assign.assign(content_sha256=lambda d: d["content_sha256"]
                                         .where(d.index != d.index[0], "0" * 64)),
                           pairs, False, "sha256"),
    }
    bad = 0
    for name, (asg, prs, want_ok, needle) in cases.items():
        v = oracle.check(asg, prs)
        flagged = needle is None or any(needle in e for e in v["errors"])
        status = "ok" if v["ok"] == want_ok and flagged else "FAIL"
        bad += status == "FAIL"
        print(f"{status:4} {name}: recall={v['dup_pair_recall']:.3f} "
              f"precision={v['near_dup_precision']:.3f} errors={v['errors']}")
    print(f"golden pairs: {len(golden)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
