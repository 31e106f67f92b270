"""Pipeline configuration.

Mirrors the reference's knobs (threshold, shingle_size, num_perm=64,
seed=42, preprocess options — see SURVEY.md §2.3/§2.4; reference defaults at
/root/reference/app/minhash_clustering/cluster_in_mem.py:238,
minhash_processor.py:10) plus the scale knobs the reference lacks
(band caps / salting, checkpointing).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import lru_cache


def _integration(f, a: float, b: float, precision: float = 0.001) -> float:
    """Midpoint-rule integration, matching the published datasketch LSH
    parameter-search numerics (datasketch/lsh.py, MIT) so that our (b, r)
    choice reproduces the reference's banding exactly."""
    area = 0.0
    x = a
    while x < b:
        area += f(x + 0.5 * precision) * precision
        x += precision
    return area


def _false_positive_probability(threshold: float, b: int, r: int) -> float:
    return _integration(lambda s: 1 - (1 - s ** float(r)) ** float(b), 0.0, threshold)


def _false_negative_probability(threshold: float, b: int, r: int) -> float:
    return _integration(
        lambda s: 1 - (1 - (1 - s ** float(r)) ** float(b)), threshold, 1.0
    )


@lru_cache(maxsize=None)
def optimal_param(
    threshold: float,
    num_perm: int,
    false_positive_weight: float = 0.5,
    false_negative_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick (bands, rows) minimizing the weighted FP/FN integral of the
    LSH S-curve ``1-(1-s^r)^b`` — the public algorithm the reference's
    ``datasketch.MinHashLSH`` uses (SURVEY.md §2.4 L1).

    E.g. num_perm=64: threshold 0.3 -> (21, 3); 0.5 -> (14, 4).
    """
    min_error = float("inf")
    opt = (0, 0)
    for b in range(1, num_perm + 1):
        max_r = int(num_perm / b)
        for r in range(1, max_r + 1):
            fp = _false_positive_probability(threshold, b, r)
            fn = _false_negative_probability(threshold, b, r)
            error = fp * false_positive_weight + fn * false_negative_weight
            if error < min_error:
                min_error = error
                opt = (b, r)
    return opt


# Reference preprocessing quirk (preprocess_helper.py:8-36): options=None
# means ALL OFF; a provided dict defaults *missing* keys to True.  We always
# pass explicit dicts to avoid the trap (SURVEY.md §2.3 S1).
PREPROCESS_NONE = {
    "lowercase": False,
    "remove_diacritics": False,
    "remove_punctuation": False,
}
PREPROCESS_FULL = {
    "lowercase": True,
    "remove_diacritics": True,
    "remove_punctuation": True,
}


@dataclass(frozen=True)
class DedupConfig:
    """Knobs for the dedup pipeline.

    Defaults mirror the reference protocol config
    (benchmark_performance.py:194-211): threshold=0.3, shingle_size=6,
    num_perm=64, seed=42.
    """

    threshold: float = 0.3
    shingle_size: int = 6
    num_perm: int = 64
    seed: int = 42
    preprocess: dict = field(default_factory=lambda: dict(PREPROCESS_NONE))

    # --- scale knobs (no reference equivalent; SURVEY.md §4 skew row) ---
    # Exact-duplicate pre-pass: collapse byte-identical clean_text before
    # MinHash (removes the worst band-skew mass).  OFF in parity mode.
    exact_dedup_prepass: bool = False
    # Hot-band defense: bands whose bucket exceeds this many docs are
    # salted into sub-buckets for the pair join (pairs across salt cells
    # still generated) — purely a shuffle-shape change, not a semantics
    # change.  A positive int; a threshold above every band size means one
    # cell per band.  512 also bounds the cold path's per-band
    # pair-explode array at C(512,2) ≈ 131k entries (~2 MB transient per
    # band group).
    band_salt_threshold: int = 512
    # Optional recall-losing cap: drop bands larger than this outright and
    # log them (analogue of the reference's candidate caps, cluster_in_mem
    # .py:165 — OFF by default because it loses recall; see SURVEY §2.7 T7).
    band_drop_threshold: int | None = None
    # T7 candidate-cap parity surface: when set, each doc keeps only its
    # max_candidates smallest candidate partners (deterministic
    # reformulation of the reference's per-doc LSH-query caps 500/150,
    # cluster_in_mem.py:165,186-187 — see operators/pairs.py
    # cap_pairs_per_doc).  OFF by default: uncapped is both the parity
    # mode and the no-recall-loss scale stance.
    max_candidates: int | None = None
    # Join-strategy cap for the Jaccard-verify joins (optimization guide
    # §3.1 "pick the strategy deliberately").  When the estimated
    # signature-relation size — n_docs * (num_perm * 8 + 16) bytes — fits
    # under this cap, the pipeline BROADCASTs the signature table into
    # both verify joins, so the candidate-pair side (|pairs| >> |docs| in
    # any duplicate-heavy corpus) is never shuffled; above it, the joins
    # fall back to per-partition shuffle-hash builds, the only correct
    # physical choice when signatures exceed executor memory (the
    # 10^12-doc design point).  1 GiB default: safe on any >= 8 GB
    # driver/executor (Spark's own broadcast hard cap is 8 GiB), and at
    # num_perm=64 it admits corpora up to ~2M docs — decided from the
    # MEASURED doc count per run, not tuned to any one bench size.  None
    # disables broadcasting outright.
    verify_broadcast_max_bytes: int | None = 1 << 30
    # Complementary SimHash pass (north_star): when set, a 64-bit SimHash
    # is fused into the signature kernel and candidate pairs are
    # pre-filtered on Hamming distance <= this bound BEFORE the Jaccard
    # verify — the Hamming join carries 8-byte hashes instead of the
    # num_perm*8-byte signature, so the full-width signature join only
    # sees survivors.  None (default, parity mode) disables the pass;
    # 64 makes it a provable no-op (every pair passes).
    simhash_hamming_max: int | None = None
    # Exact-substring stage (north_star): when set, LSH candidate pairs
    # additionally get their longest common substring computed (suffix
    # automaton, pairwise over the pruned candidate set) and pairs sharing
    # a span >= this many chars are emitted as substring_edges.  None
    # disables the stage.
    substring_min_span: int | None = None

    def bands_rows(self) -> tuple[int, int]:
        return optimal_param(self.threshold, self.num_perm)

    def preprocess_options(self) -> dict:
        # explicit all three keys, always
        return {
            "lowercase": bool(self.preprocess.get("lowercase", False)),
            "remove_diacritics": bool(self.preprocess.get("remove_diacritics", False)),
            "remove_punctuation": bool(self.preprocess.get("remove_punctuation", False)),
        }
