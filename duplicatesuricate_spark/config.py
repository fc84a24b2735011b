"""Pinned pipeline configuration.

The reference expresses configuration as a loose ``ScoreDict`` of column
lists (reference: duplicatesuricate/utils.py:10-83) and scattered scalar
defaults (threshold=0.3 at connectors.py:83, classifier threshold=0.5 at
classifiers.py:23).  The new engine pins everything in one frozen,
hashable dataclass so every stage — and every test oracle — sees the same
constants (BASELINE.json: 5-gram shingles, MinHash 128 perms,
LSH 16 bands x 8 rows, SimHash 64-bit, fixed seeds).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


# 61-bit Mersenne prime: (a*x + b) mod P fits comfortably in float-free
# uint64 arithmetic and gives a near-uniform universal hash family.
MERSENNE_P = (1 << 61) - 1


@dataclass(frozen=True)
class DedupConfig:
    """Frozen knobs for the whole dedup pipeline."""

    # --- shingling (stage B2) ---
    shingle_k: int = 5            # token n-gram width
    token_pattern: str = "[^a-z0-9_]+"   # split on non-identifier chars

    # --- MinHash (stage B3) ---
    num_perms: int = 128
    # --- LSH banding (stage B5): bands * rows_per_band == num_perms ---
    bands: int = 16
    rows_per_band: int = 8

    # --- SimHash (stage B4) ---
    simhash_bits: int = 64

    # --- scoring / acceptance (stage B7) ---
    # Jaccard-estimate threshold for a candidate pair to become a dup pair.
    # Mirrors the reference's two-stage thresholding (pre-score 0.3 at
    # connectors.py:229-231 then decision 0.5 at linker.py:103).  Pinned at
    # 0.85 because that is where the PINNED 16x8 banding's detection curve
    # p = 1-(1-s^8)^16 crosses 0.99 — acceptance below the curve's knee
    # could never meet the recall>=0.99 contract with this band geometry.
    jaccard_threshold: float = 0.85
    # Candidate prefilter margin below the threshold: the MinHash estimate
    # has std ~= sqrt(J(1-J)/128) ~= 0.032 near J=0.85, so accepting
    # estimates down to threshold - margin (~3 sigma) keeps true-positive
    # candidates alive for the EXACT Jaccard verification pass, which makes
    # the final accept/reject decision.  The margin costs only compute
    # (more pairs verified), never precision.
    jaccard_margin: float = 0.10
    # Secondary channel: accept when SimHash Hamming distance <= this.
    # Candidate generation joins on 2-block-concatenation keys (C(4,2)=6
    # tables of 32-bit keys, lsh.simhash_block_explode): pigeonhole-
    # COMPLETE only for hamming <= 2.  Hamming-3 pairs whose three bit
    # errors land in three distinct blocks (~37.5% of them) are NOT
    # guaranteed a shared block pair — they surface only if MinHash
    # banding fires, and SimHash distance does not bound Jaccard, so this
    # channel is PROBABILISTIC at 3 (round-2 advice: the acceptance docs
    # must not imply completeness).  The recall >= 0.99 contract is owned
    # by the MinHash banding channel at its pinned detection curve; the
    # SimHash channel is supplementary recall on top.
    hamming_threshold: int = 3
    simhash_blocks: int = 4

    # --- exact-substring pass (stage B9) ---
    substring_window: int = 50    # tokens per anchored chunk
    substring_anchor_mod: int = 16  # token-hash % mod == 0 starts a chunk
    substring_min_chunks: int = 2   # chunks a doc must share to be a candidate
    substring_containment: float = 0.8  # fraction of smaller doc's chunks matched

    # --- skew handling (stage B6) ---
    # bucket size above which pairing switches to salted sub-groups (full
    # pairing within each ~cap-sized group + star across groups); the salt
    # count is derived per bucket as ceil(bucket_n / hot_band_cap)
    hot_band_cap: int = 64
    # bucket size above which the key is treated as signal-free (chance
    # collisions — see lsh.candidate_pairs) and only O(n) star edges are
    # emitted, never cliques
    mega_band_cap: int = 2048

    # --- execution strategy ---
    # tokenize inside the Arrow kernel (vectorized char-level numpy over
    # warm buffers) instead of JVM codegen split(lower(...)): measured on
    # allocation-constrained hosts the JVM string path stops scaling past
    # ~2 cores (BENCH/BASELINE.md round-2 controls).  Token-hash universes
    # differ between the two modes; both are internally consistent and the
    # planted-truth oracles are hash-agnostic.
    kernel_tokenize: bool = True

    # --- identity (stage B1) ---
    # repair 64-bit doc_id collisions at pipeline entry (one key-only
    # groupBy + two probe joins; the colliding set is ~27k rows at 10^12
    # docs and broadcasts).  Applies when the corpus carries its natural
    # key (repo, path, commit); corpora that mint their own doc_id skip it
    # (the caller owns uniqueness there).
    repair_id_collisions: bool = True

    # --- determinism ---
    seed: int = 0x5EED_CA7

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"bands*rows_per_band ({self.bands}*{self.rows_per_band}) "
                f"must equal num_perms ({self.num_perms})"
            )
        if self.simhash_bits != 64:
            raise ValueError("simhash is pinned to 64 bits (stored as one long)")

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)


DEFAULT_CONFIG = DedupConfig()
