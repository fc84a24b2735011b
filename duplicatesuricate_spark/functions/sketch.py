"""MinHash-128 + SimHash-64 sketching (stages B3/B4) — one Arrow pass.

The reference's similarity channel is per-row Python fuzzywuzzy
(duplicatesuricate/utils.py:99-113, 187-201, registered as row-at-a-time
Spark UDFs at utils.py:116,204).  The recast computes tokens, shingles,
sketches and the substring pass's chunk hashes in ONE ``mapInArrow``
kernel: vectorized numpy over each Arrow batch, zero per-row Python
(BASELINE.json input_hint; "Accelerating Python UDFs in Vectorized Query
Execution", CIDR'22).

MinHash family: multiply-shift universal hashing on uint64 —
``h_i(x) = (a_i * x + b_i) mod 2^64 >> 33`` with odd seeded ``a_i``.
Wrap-around multiplication is the hash (Dietzfelbinger et al. multiply-
shift); the top 31 bits are kept so each slot fits a signed int32.
All constants derive from ``cfg.seed`` — fully deterministic.

SimHash: per bit b of the 64-bit shingle hash, sum +/-1 over the doc's
shingles; bit b of the signature is 1 iff the sum is positive.  Stored as
one signed int64 (bit pattern of the uint64 signature).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from duplicatesuricate_spark.config import DedupConfig, DEFAULT_CONFIG

def _perm_constants(cfg: DedupConfig) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) multiply-shift constants; a forced odd."""
    rng = np.random.RandomState(cfg.seed & 0x7FFFFFFF)
    lo = rng.randint(0, 1 << 32, size=cfg.num_perms).astype(np.uint64)
    hi = rng.randint(0, 1 << 32, size=cfg.num_perms).astype(np.uint64)
    a = ((hi << np.uint64(32)) | lo) | np.uint64(1)
    lo = rng.randint(0, 1 << 32, size=cfg.num_perms).astype(np.uint64)
    hi = rng.randint(0, 1 << 32, size=cfg.num_perms).astype(np.uint64)
    b = (hi << np.uint64(32)) | lo
    return a, b


# ------------------------------------------------- fused full-sketch path

_FULL_SCHEMA = T.StructType([
    T.StructField("shingles", T.ArrayType(T.LongType(), False), False),
    T.StructField("minhash", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("simhash", T.LongType(), False),
])

_FULL_SCHEMA_CHUNKS = T.StructType(
    _FULL_SCHEMA.fields
    + [T.StructField("chunks", T.ArrayType(T.LongType(), False), False)]
)

# odd multipliers + finalizer for the vectorized k-gram hash
_GRAM_C = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63],
    dtype=np.uint64,
)
_MIX = np.uint64(0xFF51AFD7ED558CCD)


def _gram_hashes(flat: np.ndarray, lens: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized k-gram hashing over a flat token-hash array.

    Computes a combined hash at EVERY position of the flat array with
    strided adds (no per-gram Python), then masks out windows that cross
    document boundaries.  Returns (gram_hashes, doc_index_per_gram).
    """
    total = len(flat)
    n_pos = max(total - (k - 1), 0)
    acc = np.zeros(n_pos, dtype=np.uint64)
    for j in range(k):
        acc += flat[j : n_pos + j] * _GRAM_C[j]
    acc ^= acc >> np.uint64(33)
    acc *= _MIX
    acc ^= acc >> np.uint64(29)

    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    doc_of_pos = np.repeat(np.arange(len(lens)), lens)[:n_pos]
    # a gram starting at p belongs to doc d iff p+k-1 < start_d + len_d
    ends = (starts + lens)[doc_of_pos]
    valid = (np.arange(n_pos) + (k - 1)) < ends
    return acc[valid], doc_of_pos[valid]


def _chunk_constants(cfg: DedupConfig) -> np.ndarray:
    """Seeded odd multipliers for the w-token chunk hash (stage B9)."""
    rng = np.random.RandomState((cfg.seed ^ 0xC4A9C) & 0x7FFFFFFF)
    lo = rng.randint(0, 1 << 32, size=cfg.substring_window).astype(np.uint64)
    hi = rng.randint(0, 1 << 32, size=cfg.substring_window).astype(np.uint64)
    return (((hi << np.uint64(32)) | lo) | np.uint64(1))


def _chunk_hashes_np(
    flat: np.ndarray, lens: np.ndarray, cfg: DedupConfig
) -> tuple[np.ndarray, np.ndarray]:
    """Content-defined anchored chunk hashes over the flat token-hash array
    (the numpy twin of substring.chunk_hashes' SQL form): a chunk starts at
    every token whose hash %% substring_anchor_mod == 0 and spans
    ``substring_window`` tokens entirely inside its document.  Returns
    (chunk_hashes, doc_index_per_chunk)."""
    w = cfg.substring_window
    K = _chunk_constants(cfg)
    total = len(flat)
    n_pos = max(total - (w - 1), 0)
    acc = np.zeros(n_pos, dtype=np.uint64)
    for j in range(w):
        acc += flat[j : n_pos + j] * K[j]
    acc ^= acc >> np.uint64(33)
    acc *= _MIX
    acc ^= acc >> np.uint64(29)

    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    doc_of_pos = np.repeat(np.arange(len(lens)), lens)[:n_pos]
    ends = (starts + lens)[doc_of_pos]
    anchor = (flat[:n_pos] % np.uint64(cfg.substring_anchor_mod)) == 0
    valid = anchor & ((np.arange(n_pos) + (w - 1)) < ends)
    return acc[valid], doc_of_pos[valid]


# ------------------------- vectorized char-level tokenizer (numpy, warm)

# ascii lowercase + token-alphabet classification in one 256-entry table:
# value = lowercased byte for [A-Za-z0-9_], 0 for every separator byte
# (UTF-8 continuation/lead bytes >= 0x80 are separators, consistent with
# the JVM tokenizer where every non-[a-z0-9_] codepoint splits; the only
# divergence is exotic uppercase codepoints whose lowercase maps into
# ascii, e.g. U+212A KELVIN SIGN -> 'k' — acceptable: fixtures and source
# code are ascii, and the hash universe is internal to the engine)
_TOK_TABLE = np.zeros(256, dtype=np.uint8)
for _c in range(ord("a"), ord("z") + 1):
    _TOK_TABLE[_c] = _c
    _TOK_TABLE[_c - 32] = _c          # A-Z -> a-z
for _c in range(ord("0"), ord("9") + 1):
    _TOK_TABLE[_c] = _c
_TOK_TABLE[ord("_")] = ord("_")

_MAX_TOK_PASSES = 64  # chars hashed positionally; longer tokens also mix
                      # total length + final char + an 8-char tail window
_TAIL_WINDOW = 8      # chars of the tail folded in for tokens > 64 chars
                      # (round-2 advice: prefix+length+last-char alone let
                      # long minified/base64 tokens collide deterministically)

# bump when the token-hash universe changes (constants, passes, tail fold):
# persisted DedupState fingerprints include it so incremental runs fail fast
# instead of silently mixing incompatible sketch universes
KERNEL_VERSION = 3


def _char_constants() -> np.ndarray:
    rng = np.random.RandomState(0x70CEA5)
    lo = rng.randint(0, 1 << 32, size=_MAX_TOK_PASSES).astype(np.uint64)
    hi = rng.randint(0, 1 << 32, size=_MAX_TOK_PASSES).astype(np.uint64)
    return (((hi << np.uint64(32)) | lo) | np.uint64(1))


def _tailw_constants() -> np.ndarray:
    rng = np.random.RandomState(0x7A11)
    lo = rng.randint(0, 1 << 32, size=_TAIL_WINDOW).astype(np.uint64)
    hi = rng.randint(0, 1 << 32, size=_TAIL_WINDOW).astype(np.uint64)
    return (((hi << np.uint64(32)) | lo) | np.uint64(1))


_CHAR_K = _char_constants()
_TAILW_K = _tailw_constants()
_LEN_K = np.uint64(0x9E3779B97F4A7C15)
_TAIL_K = np.uint64(0xC2B2AE3D27D4EB4F)


def _token_hash_core(
    low: np.ndarray, tok_starts: np.ndarray, tok_ends: np.ndarray
) -> np.ndarray:
    """Seeded positional token hash over classified/lowercased bytes.

    <= ``_MAX_TOK_PASSES`` strided passes (each touches only tokens long
    enough), then length, final char, and — for tokens longer than the
    pass cap — an 8-char tail window with its own constants, so long-token
    collisions require matching content, not just prefix+length+tail byte.
    """
    tok_lens = tok_ends - tok_starts
    n_toks = len(tok_starts)
    h = np.zeros(n_toks, dtype=np.uint64)
    if n_toks == 0:
        return h
    max_len = int(tok_lens.max())
    low64 = low.astype(np.uint64)
    for j in range(min(max_len, _MAX_TOK_PASSES)):
        alive = tok_lens > j
        h[alive] += low64[tok_starts[alive] + j] * _CHAR_K[j]
    if max_len > _MAX_TOK_PASSES:
        longm = tok_lens > _MAX_TOK_PASSES   # such tokens have >= 8 chars
        le = tok_ends[longm]
        hl = h[longm]
        for j in range(_TAIL_WINDOW):
            hl += low64[le - 1 - j] * _TAILW_K[j]
        h[longm] = hl
    h += tok_lens.view(np.uint64) * _LEN_K
    h += low64[tok_ends - 1] * _TAIL_K
    h ^= h >> np.uint64(33)
    h *= _MIX
    h ^= h >> np.uint64(29)
    return h


def _tokenize_hash_np(contents: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Batch string Series -> (flat token hashes, tokens-per-doc lens).

    Everything is vectorized over the batch's concatenated bytes: one
    lookup classifies+lowercases, boundary masks delimit tokens, and the
    token hash is a seeded positional mix folded in <= max-token-length
    strided passes (each pass touches only tokens long enough).  Zero
    per-token Python.  This replaces JVM-side ``split(lower(content))`` +
    per-token xxhash64 — measured on this host, that allocation-heavy
    codegen path gets SLOWER with more cores (BENCH/BASELINE.md round-2
    controls), while this path is register/bandwidth-bound numpy.

    NOTE: the per-doc ``encode``+``join`` below materializes one Python
    bytes object per doc; the pipeline runs :func:`_tokenize_hash_arrow`
    (zero-copy Arrow offsets) instead.  This form is its oracle twin.
    """
    n_docs = len(contents)
    first = contents.iloc[0] if n_docs else b""
    if isinstance(first, (bytes, bytearray)):
        # BinaryType input: the JVM did one encode per doc; zero
        # Python-side string materialization here
        encoded = contents
    else:
        encoded = [s.encode("utf-8", "surrogatepass") for s in contents]
    doc_blens = np.fromiter((len(e) for e in encoded), dtype=np.int64,
                            count=n_docs)
    buf = np.frombuffer(b"\x00".join(encoded) + b"\x00", dtype=np.uint8)
    # doc separator \x00 is a separator byte, so tokens never cross docs
    low = _TOK_TABLE[buf]
    is_tok = low != 0
    prev = np.empty_like(is_tok)
    prev[0] = False
    prev[1:] = is_tok[:-1]
    starts_mask = is_tok & ~prev
    tok_starts = np.flatnonzero(starts_mask)
    n_toks = len(tok_starts)
    if n_toks == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs, dtype=np.int64)
    ends_mask = is_tok & ~np.concatenate((is_tok[1:], [False]))
    tok_ends = np.flatnonzero(ends_mask) + 1
    h = _token_hash_core(low, tok_starts, tok_ends)

    # tokens per doc: bucket token starts by doc via the byte offsets
    doc_ends = np.cumsum(doc_blens + 1)
    doc_of_tok = np.searchsorted(doc_ends, tok_starts, side="right")
    lens = np.bincount(doc_of_tok, minlength=n_docs).astype(np.int64)
    return h, lens


def _tokenize_hash_arrow(col) -> tuple[np.ndarray, np.ndarray]:
    """Arrow string/binary array -> (flat token hashes, tokens-per-doc lens)
    with ZERO per-doc Python objects.

    The batch's UTF-8 bytes are consumed directly from the Arrow data
    buffer; doc boundaries come from the offsets buffer.  No ``encode``,
    no ``join``, no bytes objects — the round-2 profile put ~170 s of
    serial per-object allocation at 1M docs on exactly that path
    (BENCH/BASELINE.md "Round-3 lever"), on a host whose allocation path
    is globally serialized.  Token runs are broken at doc boundaries by
    OR-ing a doc-start mask into the boundary masks (the separator-byte
    trick of the pandas twin, without building the joined buffer).
    """
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        import pyarrow.compute as pc

        col = pc.fill_null(col, "" if pa.types.is_string(col.type)
                           or pa.types.is_large_string(col.type) else b"")
    n_docs = len(col)
    if n_docs == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    t = col.type
    odt = (np.int64 if pa.types.is_large_string(t) or pa.types.is_large_binary(t)
           else np.int32)
    bufs = col.buffers()
    offsets = np.frombuffer(bufs[1], dtype=odt)[
        col.offset : col.offset + n_docs + 1
    ].astype(np.int64, copy=False)
    base = int(offsets[0])
    total = int(offsets[-1]) - base
    if total == 0 or bufs[2] is None:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs, dtype=np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8, count=int(offsets[-1]),
                         offset=0)[base:]
    doc_ends = offsets[1:] - base

    low = _TOK_TABLE[data]            # classify + lowercase, one pass
    is_tok = low != 0
    dstart = np.zeros(total + 1, dtype=bool)
    dstart[offsets[:-1] - base] = True
    prev = np.empty_like(is_tok)
    prev[0] = False
    prev[1:] = is_tok[:-1]
    nxt = np.empty_like(is_tok)
    nxt[-1] = False
    nxt[:-1] = is_tok[1:]
    starts_mask = is_tok & (~prev | dstart[:total])
    ends_mask = is_tok & (~nxt | dstart[1:])
    tok_starts = np.flatnonzero(starts_mask)
    if len(tok_starts) == 0:
        return np.empty(0, dtype=np.uint64), np.zeros(n_docs, dtype=np.int64)
    tok_ends = np.flatnonzero(ends_mask) + 1
    h = _token_hash_core(low, tok_starts, tok_ends)
    doc_of_tok = np.searchsorted(doc_ends, tok_starts, side="right")
    lens = np.bincount(doc_of_tok, minlength=n_docs).astype(np.int64)
    return h, lens


def tokenize_hash_py(content: str) -> list[int]:
    """Pure-Python oracle for the vectorized tokenizer (tests only)."""
    import re

    toks = [t for t in re.split(r"[^a-z0-9_]+", content.lower()) if t]
    out = []
    for t in toks:
        bs = t.encode()
        h = 0
        for j, c in enumerate(bs[:_MAX_TOK_PASSES]):
            h = (h + c * int(_CHAR_K[j])) & 0xFFFFFFFFFFFFFFFF
        if len(bs) > _MAX_TOK_PASSES:
            for j in range(_TAIL_WINDOW):
                h = (h + bs[-1 - j] * int(_TAILW_K[j])) & 0xFFFFFFFFFFFFFFFF
        h = (h + len(bs) * int(_LEN_K)) & 0xFFFFFFFFFFFFFFFF
        h = (h + bs[-1] * int(_TAIL_K)) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 33
        h = (h * int(_MIX)) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 29
        out.append(h)
    return out


def make_full_sketch_udf(cfg: DedupConfig = DEFAULT_CONFIG, with_chunks: bool = False):
    """Per-token hash array<long> -> struct(shingles, minhash, simhash
    [, chunks]): the JVM-tokenize form of the kernel.

    The ONLY JVM-side text work is one xxhash64 per token; k-gram hashing,
    per-doc dedup, MinHash, SimHash — and, with ``with_chunks``, the
    exact-substring pass's anchored chunk hashes — all run vectorized in
    numpy over the whole Arrow batch.  Deriving the ~n/anchor_mod chunk
    hashes HERE, instead of keeping the per-token array for the substring
    pass, persists and shuffles ~16x fewer bytes.
    """
    a, b = _perm_constants(cfg)
    schema = _FULL_SCHEMA_CHUNKS if with_chunks else _FULL_SCHEMA

    @pandas_udf(schema)
    def full_sketch(hash_lists: pd.Series) -> pd.DataFrame:
        n_docs = len(hash_lists)
        if n_docs == 0:
            return _empty_sketch_frame(with_chunks)
        lens = hash_lists.map(len).to_numpy(dtype=np.int64)
        flat = np.empty(int(lens.sum()), dtype=np.uint64)
        pos = 0
        for lst in hash_lists:
            m = len(lst)
            if m:
                flat[pos : pos + m] = np.asarray(lst, dtype=np.int64).view(np.uint64)
            pos += m
        return _sketch_from_flat(flat, lens, cfg, a, b, with_chunks)

    return full_sketch


def _empty_sketch_frame(with_chunks: bool) -> pd.DataFrame:
    out = {"shingles": [], "minhash": [], "simhash": []}
    if with_chunks:
        out["chunks"] = []
    return pd.DataFrame(out)


def _segment_unique(
    vals: np.ndarray, doc_idx: np.ndarray, n_docs: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc sorted-unique over (vals, doc_idx), fully vectorized: one
    lexsort + one neighbor-compare replaces a per-doc ``np.unique`` Python
    loop.  Returns (flat unique values grouped by doc, per-doc counts)."""
    if len(vals) == 0:
        return vals, np.zeros(n_docs, dtype=np.int64)
    order = np.lexsort((vals, doc_idx))
    v = vals[order]
    d = doc_idx[order]
    keep = np.empty(len(v), dtype=bool)
    keep[0] = True
    keep[1:] = (v[1:] != v[:-1]) | (d[1:] != d[:-1])
    v = v[keep]
    d = d[keep]
    return v, np.bincount(d, minlength=n_docs).astype(np.int64)


def _minhash_simhash_segments(
    flat_sh: np.ndarray, starts: np.ndarray, lens: np.ndarray,
    a: np.ndarray, b: np.ndarray, num_perms: int,
) -> tuple[np.ndarray, np.ndarray]:
    """MinHash + SimHash over segment-grouped shingles (every segment must
    be non-empty: the kernel gives an empty document one sentinel gram).
    Returns (mins (num_perms, n_docs) int32, simhash int64).  In-place ops
    on one reused buffer: allocation churn (not CPU) is what breaks scaling
    when many tasks run this concurrently.  SimHash uses a per-bit
    segmented popcount with an O(n) buffer, never the (n, 64) matrix."""
    n_docs = len(lens)
    if n_docs == 0:
        return (np.empty((num_perms, 0), dtype=np.int32),
                np.empty(0, dtype=np.int64))
    mins = np.empty((num_perms, n_docs), dtype=np.int32)
    buf = np.empty_like(flat_sh)
    for p in range(num_perms):
        np.multiply(flat_sh, a[p], out=buf)
        np.add(buf, b[p], out=buf)
        np.right_shift(buf, np.uint64(33), out=buf)
        mins[p] = np.minimum.reduceat(buf, starts).astype(np.int32)
    ones = np.empty((64, n_docs), dtype=np.int64)
    for bit in range(64):
        np.right_shift(flat_sh, np.uint64(bit), out=buf)
        np.bitwise_and(buf, np.uint64(1), out=buf)
        ones[bit] = np.add.reduceat(buf.view(np.int64), starts)
    sig_bits = (2 * ones > lens[None, :]).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    simhash = (sig_bits << shifts[:, None]).sum(axis=0, dtype=np.uint64).view(np.int64)
    return mins, simhash


def _sketch_segments(
    flat: np.ndarray, lens: np.ndarray, cfg: DedupConfig,
    a: np.ndarray, b: np.ndarray, with_chunks: bool,
) -> dict:
    """Vectorized kernel body over segment form: flat token-hash array +
    per-doc lens -> flat shingle/minhash/chunk values + per-doc counts.
    No per-doc Python loop anywhere on the main path (short docs — fewer
    than ``shingle_k`` tokens — are folded in with <= k-1 strided passes).
    """
    n_docs = len(lens)
    num_perms, k = cfg.num_perms, cfg.shingle_k
    grams, doc_idx = _gram_hashes(flat, lens, k)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # short docs (< k tokens, incl. empty) get one gram over all tokens
    short = np.flatnonzero(lens < k)
    if len(short):
        sl = lens[short]
        acc = np.zeros(len(short), dtype=np.uint64)
        for j in range(int(sl.max()) if len(sl) else 0):
            alive = sl > j
            acc[alive] += flat[starts[short[alive]] + j] * _GRAM_C[j % k]
        acc ^= acc >> np.uint64(33)
        acc *= _MIX
        acc ^= acc >> np.uint64(29)
        grams = np.concatenate([grams, acc])
        doc_idx = np.concatenate([doc_idx, short])

    sh_vals, sh_lens = _segment_unique(grams, doc_idx, n_docs)
    # every doc has >= 1 shingle (short-doc fallback), so reduceat aligns
    sh_starts = np.concatenate(([0], np.cumsum(sh_lens)[:-1]))
    mins, simhash = _minhash_simhash_segments(
        sh_vals, sh_starts, sh_lens, a, b, num_perms
    )
    out = {
        "n_docs": n_docs,
        "sh_vals": sh_vals,
        "sh_lens": sh_lens,
        "mins": mins,
        "simhash": simhash,
    }
    if with_chunks:
        ch, ch_doc = _chunk_hashes_np(flat, lens, cfg)
        out["ch_vals"], out["ch_lens"] = _segment_unique(ch, ch_doc, n_docs)
    return out


def _sketch_from_flat(
    flat: np.ndarray, lens: np.ndarray, cfg: DedupConfig,
    a: np.ndarray, b: np.ndarray, with_chunks: bool,
) -> pd.DataFrame:
    """pandas adapter over :func:`_sketch_segments` (the JVM-tokenize
    pandas UDF; the kernel-tokenize path uses the Arrow-native adapter)."""
    seg = _sketch_segments(flat, lens, cfg, a, b, with_chunks)
    sh64 = seg["sh_vals"].view(np.int64)
    cuts = np.cumsum(seg["sh_lens"])[:-1]
    out = {
        "shingles": np.split(sh64, cuts),
        "minhash": list(np.ascontiguousarray(seg["mins"].T)),
        "simhash": seg["simhash"],
    }
    if with_chunks:
        ch64 = seg["ch_vals"].view(np.int64)
        out["chunks"] = np.split(ch64, np.cumsum(seg["ch_lens"])[:-1])
    return pd.DataFrame(out)


def _sketch_arrow_arrays(seg: dict, cfg: DedupConfig, with_chunks: bool):
    """Segment-form kernel output -> Arrow arrays, zero-copy: ListArray
    offsets + values are built straight from the numpy flats — no per-doc
    Python lists, no pandas object Series (whose Arrow conversion is
    per-element and allocation-heavy)."""
    import pyarrow as pa

    n = seg["n_docs"]

    def list_arr(vals: np.ndarray, lens: np.ndarray, typ) -> pa.ListArray:
        off = np.zeros(n + 1, dtype=np.int32)
        np.cumsum(lens, out=off[1:])
        return pa.ListArray.from_arrays(
            pa.array(off, type=pa.int32()), pa.array(vals, type=typ)
        )

    arrs = [
        list_arr(seg["sh_vals"].view(np.int64), seg["sh_lens"], pa.int64()),
        list_arr(
            np.ascontiguousarray(seg["mins"].T).reshape(-1),
            np.full(n, cfg.num_perms, dtype=np.int64),
            pa.int32(),
        ),
        pa.array(seg["simhash"], type=pa.int64()),
    ]
    if with_chunks:
        arrs.append(
            list_arr(seg["ch_vals"].view(np.int64), seg["ch_lens"], pa.int64())
        )
    return arrs


def sketch_map_in_arrow(
    df: DataFrame,
    cfg: DedupConfig = DEFAULT_CONFIG,
    content_col: str = "content",
    with_chunks: bool = False,
    project: list[str] | None = None,
) -> DataFrame:
    """content -> shingles/minhash/simhash[/chunks] via ``mapInArrow`` —
    the fully zero-copy hot path.

    Input bytes are consumed straight from the Arrow string buffers
    (:func:`_tokenize_hash_arrow`) and outputs are built as Arrow arrays
    from numpy flats (:func:`_sketch_arrow_arrays`): the ONLY Python
    objects per batch are a handful of array headers, vs one bytes object
    per doc on the pandas path — the measured ~170 s serial allocation
    term at 1M docs (BENCH/BASELINE.md).

    ``project`` selects which input columns to carry into the output
    (default: all of them, ``content_col`` included).  The pipeline passes
    ``["doc_id", "content_sha256"]`` so multi-KB content bytes are not
    echoed back over the worker socket.
    """
    import pyarrow as pa

    a, b = _perm_constants(cfg)
    if project is not None:
        # prune the worker's input to what the output carries + content:
        # mapInArrow ships the WHOLE input schema to Python otherwise
        in_cols = list(project) + ([content_col] if content_col not in project else [])
        df = df.select(*in_cols)
    keep = [f.name for f in df.schema.fields] if project is None else list(project)
    new_fields = [
        T.StructField("shingles", T.ArrayType(T.LongType(), False), False),
        T.StructField("minhash", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("simhash", T.LongType(), False),
    ]
    if with_chunks:
        new_fields.append(
            T.StructField("chunks", T.ArrayType(T.LongType(), False), False)
        )
    in_by_name = {f.name: f for f in df.schema.fields}
    out_schema = T.StructType([in_by_name[c] for c in keep] + new_fields)
    out_names = keep + [f.name for f in new_fields]
    with_chunks_ = with_chunks

    def fn(batches):
        for batch in batches:
            col = batch.column(batch.schema.get_field_index(content_col))
            flat, lens = _tokenize_hash_arrow(col)
            seg = _sketch_segments(flat, lens, cfg, a, b, with_chunks_)
            arrs = [
                batch.column(batch.schema.get_field_index(c)) for c in keep
            ] + _sketch_arrow_arrays(seg, cfg, with_chunks_)
            yield pa.RecordBatch.from_arrays(arrs, names=out_names)

    return df.mapInArrow(fn, out_schema)


def with_full_sketches(df: DataFrame, cfg: DedupConfig = DEFAULT_CONFIG,
                       content_col: str = "content",
                       with_chunks: bool = False,
                       kernel_tokenize: bool | None = None,
                       project: list[str] | None = None) -> DataFrame:
    """content -> shingles + minhash + simhash [+ chunks] in one Arrow pass
    (the pipeline's hot path).

    ``kernel_tokenize`` (default: cfg.kernel_tokenize) moves tokenization
    itself into the numpy kernel (:func:`sketch_map_in_arrow`) — the JVM
    ships raw content and nothing else.  Measured on this class of host,
    codegen ``split(lower(...))`` is allocation-bound and stops scaling
    past ~2 cores while the vectorized char path stays register/bandwidth-
    bound (BENCH/BASELINE.md).  The JVM form is kept as the cross-engine-
    readable reference semantics.

    ``with_chunks`` adds the exact-substring pass's anchored chunk hashes
    (stage B9) as a ``chunks array<long>`` column.  ``project`` selects the
    input columns carried next to the sketch columns (default: all)."""
    if kernel_tokenize is None:
        kernel_tokenize = cfg.kernel_tokenize
    if kernel_tokenize:
        return sketch_map_in_arrow(
            df, cfg, content_col=content_col, with_chunks=with_chunks,
            project=project,
        )
    from duplicatesuricate_spark.functions.text import tokens_expr

    th = F.transform(tokens_expr(content_col, cfg), lambda t: F.xxhash64(t))
    res = df.withColumn("_sk", make_full_sketch_udf(cfg, with_chunks=with_chunks)(th))
    sketch_cols = ["shingles", "minhash", "simhash"] + (["chunks"] if with_chunks else [])
    for c in sketch_cols:
        res = res.withColumn(c, F.col(f"_sk.{c}"))
    res = res.drop("_sk")
    return res if project is None else res.select(*project, *sketch_cols)


# ---------------------------------------------------------------- oracles


def minhash_simhash_py(
    shingles: list[int], cfg: DedupConfig = DEFAULT_CONFIG
) -> tuple[list[int], int]:
    """Pure-Python (bigint) reimplementation used only by tests to pin the
    UDF's arithmetic: mod-2^64 multiply-shift, independent of numpy."""
    a, b = _perm_constants(cfg)
    xs = [x & 0xFFFFFFFFFFFFFFFF for x in shingles] or [0]
    mh = []
    for p in range(cfg.num_perms):
        ap, bp = int(a[p]), int(b[p])
        mh.append(min(((ap * x + bp) & 0xFFFFFFFFFFFFFFFF) >> 33 for x in xs))
    sig = 0
    for bit in range(64):
        ones = sum((x >> bit) & 1 for x in xs)
        if 2 * ones > len(xs):
            sig |= 1 << bit
    if sig >= 1 << 63:
        sig -= 1 << 64
    return mh, sig
