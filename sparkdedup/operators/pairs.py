"""Candidate-pair generation with explicit skew handling (SURVEY.md §2.4
L2-L4, §4 skew row; north_rule: "partitioning / shuffle / skew handled
explicitly").

Semantics: all (src < dst) document pairs sharing >= 1 LSH band — the
uncapped equivalent of the reference's LSH query loops
(cluster_in_mem.py:170-234, cluster_streaming.py:123-159); ``src < dst`` +
``distinct()`` replace its ``processed_pairs`` set and ordering guards.

Scale shape: a plain band self-join degrades quadratically on hot bands
(common boilerplate at web scale — the reference has no defense beyond its
recall-losing candidate caps).  ONE unified, joinless, union-free path
handles both regimes via triangle salting with a size-adaptive cell count:

  * every member of a band of measured size g lands in a salt cell
    c = xxhash64(doc_id) mod S with S = ceil(g / salt_threshold), and is
    replicated to every cell-pair bucket (min(c,d), max(c,d)), d < S.
  * pairs are generated per (band_key, ci, cj) bucket from a bounded
    collect_list array by a codegen'd explode expression; a pair (x, y) is
    emitted only in its unique home bucket (min(c_x,c_y), max(c_x,c_y)),
    so coverage is exact (no recall loss) with no duplicate emission.
  * cold bands (g <= salt_threshold) get S = 1: a single (0, 0) bucket,
    zero replication — identical cost to a plain per-band group-explode.
    Hot bands pay an S-fold replication of their own rows only, and every
    bucket holds <= ~2*salt_threshold members regardless of band size.
    salt_threshold must be a positive int; one above every band size
    means one cell per band.
  * optional drop_threshold: bands larger still are dropped outright and
    counted (the only recall-losing knob; OFF by default).

The single code path is deliberate: a cold∪hot ``unionByName`` of two
branches sharing the sized-bands lineage trips a Spark 4.x optimizer
failure (``UnionBase.rewriteConstraints`` AttributeMap "key not found")
when constraint propagation rewrites the branches' self-referencing
attributes — on a *vanilla* session with default confs the whole pipeline
crashed.  With no Union in the plan the bug cannot fire, and no session
workaround conf is needed (regression: tests/test_vanilla_session.py).
"""

from __future__ import annotations

import numbers

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dropped_band_stats(bands: DataFrame, drop_threshold: int) -> dict:
    """Audit row for the recall-losing drop knob: how many band buckets /
    band rows the cap removes (logged to lineage metrics — 'no silent
    caps')."""
    row = (
        bands.groupBy("band_key")
        .agg(F.count(F.lit(1)).alias("band_size"))
        .where(F.col("band_size") > drop_threshold)
        .agg(
            F.count(F.lit(1)).alias("dropped_buckets"),
            F.coalesce(F.sum("band_size"), F.lit(0)).alias("dropped_rows"),
            F.coalesce(F.max("band_size"), F.lit(0)).alias("max_bucket"),
        )
        .collect()[0]
    )
    return {
        "dropped_buckets": int(row["dropped_buckets"]),
        "dropped_rows": int(row["dropped_rows"]),
        "max_bucket": int(row["max_bucket"]),
        "drop_threshold": drop_threshold,
    }


def cap_pairs_per_doc(pairs: DataFrame, max_candidates: int) -> DataFrame:
    """SURVEY §2.7 T7 parity-surface knob: the reference bounds per-doc
    candidate work at max_candidates=500 (within-batch) / 150
    (cross-batch) by breaking out of its LSH-query loop
    (cluster_in_mem.py:165,186-187,217-218).  Its examine ORDER is
    datasketch's set-iteration order — not a documented or reproducible
    sequence — so this operator implements the DETERMINISTIC
    reformulation of the same bound: each doc keeps its
    ``max_candidates`` smallest candidate partners by doc_id, and a pair
    survives when EITHER endpoint keeps it (mirroring the reference's
    processed_pairs sharing, where a pair examined from one side never
    costs the other side's budget).  Order-free, monotone, and testable
    against an independent capped oracle (tests/oracle.py
    cap_pairs_ref).

    OFF by default (uncapped is the parity mode for the reference's own
    defaults-driven tests AND the no-recall-loss scale stance — SURVEY
    §2.7 risk f).  Scale shape: one extra shuffle of the pair list keyed
    by doc; the row_number window sorts each doc's candidate list, which
    the banding/salting layer already bounds."""
    if max_candidates < 1:
        raise ValueError(f"max_candidates must be >= 1, got {max_candidates}")
    both = pairs.select(F.col("src").alias("d"), F.col("dst").alias("p")).unionByName(
        pairs.select(F.col("dst").alias("d"), F.col("src").alias("p"))
    )
    w = Window.partitionBy("d").orderBy("p")
    kept = both.withColumn("_rk", F.row_number().over(w)).where(
        F.col("_rk") <= F.lit(max_candidates)
    )
    return (
        kept.select(
            F.least("d", "p").alias("src"), F.greatest("d", "p").alias("dst")
        )
        .distinct()
    )


def salted_members(
    bands: DataFrame,
    salt_threshold: int,
    drop_threshold: int | None = None,
) -> DataFrame:
    """(band_key, doc_id) -> bounded cell-pair buckets
    (band_key, ci, cj, ms: array<struct<d, c>>) — the shared front half of
    the triangle-salting path (module docstring).  Every unordered
    in-band pair (x, y) appears in exactly one bucket, the one with
    (ci, cj) = (min(c_x, c_y), max(c_x, c_y)); consumers enforce that
    home-bucket condition when expanding pairs.

    Band sizes via a count-only window: ONE shuffle of the band rows by
    band_key (vs groupBy-sizes + join-back = two), and no driver-side
    count() job to decide whether salting is needed: the cold/hot split
    is declarative.  The window has no orderBy, so Spark buffers per-key
    groups (narrow 16-byte rows, spillable).  Singleton buckets are
    pruned before any expansion (at web scale MOST band buckets are
    singletons).  The groupBy reuses the window's hash partitioning
    (band_key is a prefix of the group keys) — no extra exchange; bucket
    arrays are bounded by ~2*salt_threshold members."""
    if isinstance(salt_threshold, bool) or not (
        isinstance(salt_threshold, numbers.Integral) and salt_threshold >= 1
    ):
        # None or 0 would reach ceil(size / salt_threshold) as a null cell
        # count, an empty cell sequence and silently zero pairs
        raise ValueError(
            f"salt_threshold must be a positive int, got {salt_threshold!r}"
        )
    if drop_threshold is not None and drop_threshold < salt_threshold:
        raise ValueError(
            f"drop_threshold ({drop_threshold}) must be >= salt_threshold "
            f"({salt_threshold}): bands sized in between would be kept but "
            "logged as dropped"
        )
    w = Window.partitionBy("band_key")
    sized = bands.withColumn("band_size", F.count(F.lit(1)).over(w))
    sized = sized.where(F.col("band_size") >= 2)
    if drop_threshold is not None:
        sized = sized.where(F.col("band_size") <= F.lit(drop_threshold))
    cells = sized.withColumn(
        "n_cells", F.ceil(F.col("band_size") / F.lit(salt_threshold)).cast("int")
    ).withColumn("cell", F.pmod(F.xxhash64("doc_id"), F.col("n_cells")).cast("int"))
    # replicate each member to every cell-pair bucket it can meet a partner
    # in; for n_cells = 1 this is exactly one (0, 0) row per member
    repl = cells.select(
        "band_key",
        "doc_id",
        "cell",
        F.explode(F.sequence(F.lit(0), F.col("n_cells") - 1)).alias("other"),
    ).select(
        "band_key",
        "doc_id",
        "cell",
        F.least("cell", "other").alias("ci"),
        F.greatest("cell", "other").alias("cj"),
    )
    return repl.groupBy("band_key", "ci", "cj").agg(
        F.collect_list(
            F.struct(F.col("doc_id").alias("d"), F.col("cell").alias("c"))
        ).alias("ms")
    )


def candidate_pairs(
    bands: DataFrame,
    salt_threshold: int,
    drop_threshold: int | None = None,
) -> DataFrame:
    """(band_key, doc_id) -> distinct (src long, dst long), src < dst.

    salt_threshold: positive int, the band size above which a band is
    split into salt cells (module docstring; the pipeline passes
    ``DedupConfig.band_salt_threshold``); ValueError otherwise.

    drop_threshold: buckets larger than this are removed entirely.  At
    r=3, a bucket of thousands of docs is driven by globally-common
    shingles dominating the minhash minima (boilerplate effect), not by
    pairwise similarity — genuinely similar pairs inside such a bucket
    share other, small bands with overwhelming probability, so the recall
    loss is negligible while the pair volume drops by orders of magnitude.
    (The reference's max_candidates=500/150 caps are its blunter version
    of the same defense — cluster_in_mem.py:165.)"""
    # Unified salted group-explode — no join, no Union (see module doc).
    # n_cells = 1 for cold bands, so the dominant path is a zero-replication
    # single-bucket group-explode; hot bands fan out into bounded cell-pair
    # buckets.
    members = salted_members(bands, salt_threshold, drop_threshold)
    # C(g,2) in-bucket pairs via a codegen'd array expression; the inner
    # home-bucket filter makes each unordered pair surface exactly once
    # globally.  Struct fields deliberately NOT named src/dst: aliases born
    # inside a lambda can collide with the outer plan's attributes during
    # optimization (Catalyst "key not found" failures on self-referencing
    # plans).
    pair_arr = F.expr(
        "flatten(transform(ms, (x, i) ->"
        " transform("
        "  filter(slice(ms, i + 2, size(ms) - i - 1),"
        "   y -> least(x.c, y.c) = ci AND greatest(x.c, y.c) = cj),"
        "  y -> struct(least(x.d, y.d) as lo, greatest(x.d, y.d) as hi))))"
    )
    return (
        members.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.lo").alias("src"), F.col("p.hi").alias("dst"))
        .distinct()
    )
