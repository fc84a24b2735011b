"""Build a driver-shaped 10x corpus (50k docs + 20k vectors) from the
sf0.1 empirical distributions, with planted near/exact dups — same shape
as the round-6 session's /root/scratch/sf1 validation corpus.

    python BENCH/make_10x_corpus.py [SRC_DIR [OUT_DIR]]

Reads SRC_DIR/{documents,embeddings}.parquet (an sf0.1 table set) and
writes OUT_DIR/{documents,embeddings}.parquet; the defaults are the paths
the round-6 corpus was built from and written to.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SRC = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
OUT = "/root/scratch/sf1"
OUT = sys.argv[2] if len(sys.argv) > 2 else OUT
os.makedirs(OUT, exist_ok=True)
rng = random.Random(42)
nprng = np.random.default_rng(42)

docs = pq.read_table(f"{SRC}/documents.parquet").to_pandas()
vocab_rows = docs["text"].tolist()

N_DOCS = 50_000
rows = []
doc_id = 0
while len(rows) < N_DOCS:
    base = vocab_rows[rng.randrange(len(vocab_rows))]
    toks = base.split()
    mode = rng.random()
    if mode < 0.70:
        # fresh-ish doc: shuffle two windows of tokens from two docs
        other = vocab_rows[rng.randrange(len(vocab_rows))].split()
        k = rng.randrange(1, max(2, len(toks)))
        text = " ".join(toks[:k] + other[: max(1, len(other) - k)])
    elif mode < 0.85:
        # near dup: drop/replace a few tokens
        t = list(toks)
        for _ in range(max(1, len(t) // 50)):
            i = rng.randrange(len(t))
            if rng.random() < 0.5 and len(t) > 5:
                del t[i]
            else:
                t[i] = t[rng.randrange(len(t))]
        text = " ".join(t)
    elif mode < 0.93:
        # exact dup
        text = base
    else:
        # substring containment: doc embedded in boilerplate
        pre = vocab_rows[rng.randrange(len(vocab_rows))].split()[:20]
        text = " ".join(pre) + " " + base
    src = docs["source"].iloc[rng.randrange(len(docs))]
    lang = docs["lang"].iloc[rng.randrange(len(docs))]
    rows.append((doc_id, text, lang, src, len(text)))
    doc_id += 1

pd.DataFrame(
    rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
).to_parquet(f"{OUT}/documents.parquet", index=False)

emb = pq.read_table(f"{SRC}/embeddings.parquet").to_pandas()
dim = len(emb["embedding"].iloc[0])
N_VEC = 20_000
base_idx = nprng.integers(0, len(emb), N_VEC)
base_mat = np.stack(emb["embedding"].to_numpy()[base_idx])
noise = nprng.normal(0, 0.05, base_mat.shape).astype(np.float32)
mat = (base_mat + noise).astype(np.float32)
out = pd.DataFrame(
    {
        "vec_id": np.arange(N_VEC, dtype=np.int64),
        "embedding": [mat[i] for i in range(N_VEC)],
        "label": emb["label"].to_numpy()[base_idx].astype(np.int32),
    }
)
out.to_parquet(f"{OUT}/embeddings.parquet", index=False)
print("wrote", OUT, N_DOCS, "docs", N_VEC, "vectors dim", dim)
