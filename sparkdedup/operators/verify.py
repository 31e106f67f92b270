"""Jaccard verification of candidate pairs (SURVEY.md §2.3 S5, §2.4 L5).

The reference verifies with the SIGNATURE-estimate Jaccard — the fraction
of equal signature positions over all num_perm values
(cluster_in_mem.py:196 via datasketch ``MinHash.jaccard``) — not exact
shingle-set Jaccard.  Matching that estimate exactly is required for
edge-set parity.

Two execution strategies (optimization guide §3.1 + §4.2), chosen by the
pipeline from the MEASURED corpus size:

* ``broadcast`` — the signature table is small enough to replicate: it is
  collected once as an Arrow table, broadcast to every Python worker as a
  sorted (ids, matrix) pair, and a ``mapInArrow`` kernel computes the
  equality count for whole pair batches with one vectorized numpy
  comparison.  The candidate-pair side — |pairs| >> |docs| in any
  duplicate-heavy corpus — is never shuffled and never carries a
  signature payload.  Measured at sf1.0 (34.9M pairs / 50k docs): 10-11 s
  vs 159 s for the shuffle-hash JVM plan.  The JVM expression path is
  unusable here even under a broadcast join (143 s): the unrolled
  64-term equality sum exceeds HotSpot's 8000-byte JIT threshold, so
  whole-stage codegen runs as *interpreted* bytecode per pair — exactly
  the guide-§4.2 case for handing batches to vectorized native code.
* ``shuffle_hash`` — the only correct choice when signatures exceed
  executor/worker memory (the 10^12-doc design point): both equi-joins
  hash-build the signature side per partition (sort-merge would sort the
  fat pair side twice), and the Jaccard estimate is the unrolled JVM
  expression.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def jaccard_expr(sig_a: str, sig_b: str, num_perm: int) -> Column:
    """fraction of equal positions — float division by num_perm.

    UNROLLED into a scalar sum with constant array indices: higher-order
    functions (zip_with/filter) run interpreted per row in Spark, with a
    per-element lambda dispatch.  NOTE the codegen ceiling measured in
    round 6: at num_perm=64 the generated method is too large for the JIT
    (HotSpot's 8000-byte DontCompileHugeMethods limit), so this
    expression executes as interpreted bytecode — fine for the residual
    shuffle-hash path where the join dominates anyway, but the reason the
    broadcast path uses the numpy kernel instead."""
    eq_count = None
    for i in range(num_perm):
        term = (F.expr(f"{sig_a}[{i}]") == F.expr(f"{sig_b}[{i}]")).cast("int")
        eq_count = term if eq_count is None else eq_count + term
    return eq_count / F.lit(float(num_perm))


def _broadcast_signatures(
    signatures: DataFrame, id_col: str, sig_col: str, num_perm: int
):
    """Collect (id, sig) to the driver and broadcast as a sorted
    (ids int64[n], mat int64[n, num_perm]) pair — the same collect a JVM
    broadcast join performs, size-gated by the caller
    (config.verify_broadcast_max_bytes)."""
    tbl = signatures.select(id_col, sig_col).toArrow()
    ids = tbl.column(id_col).to_numpy()
    n = len(ids)
    mat = np.asarray(tbl.column(sig_col).combine_chunks().flatten()).reshape(
        n, num_perm
    )
    order = np.argsort(ids)
    ids = np.ascontiguousarray(ids[order])
    if (ids[1:] == ids[:-1]).any():
        # searchsorted would pick one copy where the shuffle-hash join
        # emits a row per copy: the strategies would silently differ
        raise ValueError("verify: the signature table has duplicate doc_ids")
    # MinHash signature values are 32-bit (masked with 2^32-1 in
    # sparkdedup.minhash); storing the broadcast matrix as uint32 halves
    # both the per-worker footprint and the kernel's memory traffic, and
    # the narrowing is injective on [0, 2^32) so per-position equality
    # counts are unchanged bit-for-bit.  Range-checked so a caller with
    # genuinely 64-bit signature values keeps exact semantics.
    mat = np.ascontiguousarray(mat[order])
    if mat.size and 0 <= mat.min() and mat.max() <= 0xFFFFFFFF:
        mat = mat.astype(np.uint32)
    return signatures.sparkSession.sparkContext.broadcast((ids, mat))


def _rows(ids: np.ndarray, keys: np.ndarray, what: str) -> np.ndarray:
    """Row of each key in the sorted broadcast ids; ValueError if absent."""
    rows = np.searchsorted(ids, keys)
    if (rows == len(ids)).any() or not np.array_equal(ids[rows], keys):
        raise ValueError(
            f"verify: {what} references a doc_id absent from the signature table"
        )
    return rows


def _verify_kernel(bc, threshold: float, num_perm: int):
    """(src, dst) Arrow batches -> (src, dst, sim) batches, sim >= t.

    One vectorized numpy pass per batch: two searchsorted lookups into
    the broadcast id index, two row gathers, one elementwise equality +
    row sum.  sim = eq_count / num_perm is exact in float64 (integer /
    power-of-two-free constant, same value the JVM expression computes)."""

    def gen(batches):
        ids, mat = bc.value
        denom = float(num_perm)
        for b in batches:
            src = b.column("src").to_numpy()
            dst = b.column("dst").to_numpy()
            si = _rows(ids, src, "candidate pair")
            di = _rows(ids, dst, "candidate pair")
            sim = (mat[si] == mat[di]).sum(axis=1) / denom
            keep = sim >= threshold
            yield pa.RecordBatch.from_arrays(
                [pa.array(src[keep]), pa.array(dst[keep]), pa.array(sim[keep])],
                ["src", "dst", "sim"],
            )

    return gen


def _fused_kernel(bc, threshold: float, num_perm: int):
    """Salted band buckets (ci, cj, ms: list<struct<d, c>>) Arrow batches
    -> verified (src, dst, sim) batches.

    Per batch: ONE searchsorted + ONE signature-row gather for every
    bucket member, then per bucket a vectorized triangle expansion
    (cached triu index pairs — bucket sizes repeat heavily), the
    home-bucket filter (each unordered pair surfaces exactly once
    globally — salted_members contract), and the equality-count Jaccard
    with the threshold applied BEFORE anything is emitted.  Pairs that
    share several bands are verified once per occurrence (measured 2.4%
    overhead at sf1.0) so that only the ~0.4% of candidates that survive
    the threshold ever reach a shuffle — the caller dedups survivors."""

    def gen(batches):
        ids, mat = bc.value
        denom = float(num_perm)
        tri_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for batch in batches:
            ci = batch.column("ci").to_numpy()
            cj = batch.column("cj").to_numpy()
            ms = batch.column("ms")
            offs = ms.offsets.to_numpy()
            offs = offs - offs[0]  # flatten() starts at a slice's first member
            flat = ms.flatten()
            ds = np.asarray(flat.field("d"))
            cs = np.asarray(flat.field("c"))
            sig_rows = mat[_rows(ids, ds, "band member")]
            out_lo, out_hi, out_sim = [], [], []
            for g in range(len(ci)):
                lo_, hi_ = offs[g], offs[g + 1]
                glen = hi_ - lo_
                if glen < 2:
                    continue
                d = ds[lo_:hi_]
                tri = tri_cache.get(glen)
                if tri is None:
                    tri = np.triu_indices(glen, 1)
                    tri_cache[glen] = tri
                i, j = tri
                if ci[g] != cj[g]:
                    # mixed bucket: keep only cross-cell pairs (same-cell
                    # pairs live in their own (a, a) home bucket; in an
                    # (a, a) bucket every member shares cell a, so all
                    # pairs are home pairs and no filter is needed)
                    c = cs[lo_:hi_]
                    keep = (np.minimum(c[i], c[j]) == ci[g]) & (
                        np.maximum(c[i], c[j]) == cj[g]
                    )
                    i, j = i[keep], j[keep]
                sg = sig_rows[lo_:hi_]
                sim = (sg[i] == sg[j]).sum(axis=1) / denom
                keep2 = sim >= threshold
                if not keep2.any():
                    continue
                i, j, sim = i[keep2], j[keep2], sim[keep2]
                out_lo.append(np.minimum(d[i], d[j]))
                out_hi.append(np.maximum(d[i], d[j]))
                out_sim.append(sim)
            lo = np.concatenate(out_lo) if out_lo else np.empty(0, np.int64)
            hi = np.concatenate(out_hi) if out_hi else np.empty(0, np.int64)
            sm = np.concatenate(out_sim) if out_sim else np.empty(0, np.float64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(lo), pa.array(hi), pa.array(sm)], ["src", "dst", "sim"]
            )

    return gen


def verify_members(
    members: DataFrame,
    signatures: DataFrame,
    threshold: float,
    num_perm: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
) -> DataFrame:
    """Fused pair-generation + Jaccard verify over salted band buckets
    (operators.pairs.salted_members output) — the broadcast-strategy
    short-cut DedupPipeline takes when the signature table fits
    config.verify_broadcast_max_bytes.

    Produces exactly ``verify_pairs(candidate_pairs(bands), signatures)``
    (asserted bit-identical at sf1.0: 142,195 edges, equal checksums),
    but the 34.9M-row candidate-pair table never exists: no pair
    explode into a distinct shuffle, no pair materialization, no pair
    re-scan — candidates live only as transient numpy index pairs inside
    the kernel, and only threshold survivors (~0.4% at sf1.0) are
    emitted and deduped.  Measured: pairs+verify 28-60 s -> ~9 s
    (bands+members+kernel) at sf1.0."""
    bc = _broadcast_signatures(signatures, id_col, sig_col, num_perm)
    return (
        members.select("ci", "cj", "ms")
        .mapInArrow(
            _fused_kernel(bc, threshold, num_perm),
            "src long, dst long, sim double",
        )
        .distinct()
    )


def verify_pairs(
    pairs: DataFrame,
    signatures: DataFrame,
    threshold: float,
    num_perm: int,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    strategy: str = "shuffle_hash",
) -> DataFrame:
    """(src, dst) x (doc_id, sig) -> edges (src, dst, sim) with sim >= t.

    ``strategy`` picks the physical plan (module docstring); results are
    identical.  DedupPipeline chooses per run from the measured doc count
    (config.verify_broadcast_max_bytes); direct callers keep the
    unconditionally-safe shuffle-hash default.  For ``broadcast``, pass a
    MATERIALIZED ``signatures`` (checkpoint table / localCheckpoint): the
    collect happens at plan-build time.
    """
    if strategy == "broadcast":
        bc = _broadcast_signatures(signatures, id_col, sig_col, num_perm)
        return pairs.select("src", "dst").mapInArrow(
            _verify_kernel(bc, threshold, num_perm),
            "src long, dst long, sim double",
        )
    if strategy != "shuffle_hash":
        raise ValueError(f"unknown verify strategy: {strategy!r}")
    s1 = signatures.select(F.col(id_col).alias("src"), F.col(sig_col).alias("_sig_src"))
    s2 = signatures.select(F.col(id_col).alias("dst"), F.col(sig_col).alias("_sig_dst"))
    return (
        pairs.join(s1.hint("shuffle_hash"), "src")
        .join(s2.hint("shuffle_hash"), "dst")
        .withColumn("sim", jaccard_expr("_sig_src", "_sig_dst", num_perm))
        .where(F.col("sim") >= F.lit(threshold))
        .select("src", "dst", "sim")
    )
