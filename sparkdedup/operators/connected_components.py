"""Connected components, replacing the reference's in-core union-find
(union_find.py:3-23; SURVEY.md §2.8 C1), on one of two routes chosen,
in both modes, by the RAW input edge count (``SMALL_GRAPH_MAX_EDGES``):

  * at or below the gate, ONE single-task numpy kernel
    (``_single_task_components``) on the caller's session.  With a ``ckpt``
    (CheckpointManager with a root) its output is one durable checkpoint
    stage, ``{prefix}_components``: the resume unit of a seconds-long
    kernel is the stage, so a killed job reloads it instead of
    recomputing;
  * above the gate, alternating large-star / small-star rounds (Kiveris
    et al., "Connected Components in MapReduce and Beyond", 2014 —
    public algorithm): two shuffles per round, O(log n) rounds, on a
    private session with its own shuffle sizing and AQE off.  Each
    round is a ``localCheckpoint`` (cuts the iterative plan; its blocks
    are NON-REPLICATED executor memory) or, with a ``ckpt``, a DURABLE
    table ``{prefix}_round_NNN``: executor loss recomputes one round, and
    a killed job resumes by reloading the committed rounds up to the
    first uncommitted one.

Output labels each node with its component's MINIMUM doc_id — which is
exactly the canonical form needed to reproduce the reference's dense
relabeling (union_find.py:25-33 assigns dense ids in first-seen doc order;
first occurrence of a component while scanning doc_id 0..n-1 is its min
doc_id, so ranking components by min doc_id reproduces the reference ids
bit-for-bit; SURVEY.md §2.8 C2).
"""

from __future__ import annotations

import copy

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sparkdedup.sessionutil import private_session, rebind

MAX_ROUNDS = 50

# Small-graph gate on the RAW input edge count: at or below it, memory and
# durable mode alike run ONE single-task numpy kernel, with no private
# session, instead of the star loop, whose per-round cost at small edge
# counts is almost pure scheduling — a localCheckpoint job (or a durable
# table write and read-back) plus a fingerprint job over near-empty
# shuffles (measured 4.5-6.8 s for 3 rounds over 142k edges at sf1.0, vs
# ~0.5 s for the kernel).  10M edges keeps the task's working set ~100s of
# MB and its wall in single-digit seconds; above it, the O(log n) loop is
# the only shape that scales.
SMALL_GRAPH_MAX_EDGES = 10_000_000


def _large_star(edges: DataFrame) -> DataFrame:
    # neighborhoods over both directions
    nbrs = edges.select("src", "dst").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = nbrs.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("src", "mn").alias("m"))
    # connect every strictly-larger neighbor to the neighborhood min
    return (
        nbrs.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # orient each edge large -> small
    o = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).where(F.col("src") != F.col("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    joined = o.join(mins, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionAll(
        mins.select("src", F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _single_task_components(edges: DataFrame) -> DataFrame:
    """Exact connected components of a SMALL edge set in one executor
    task: min-label hooking + pointer doubling (Shiloach/Vishkin-style),
    fully vectorized in numpy.  Labels converge to the component MINIMUM
    node id — the same canonical labeling the star loop produces: p only
    ever decreases toward member ids, and at the fixpoint no edge joins
    two labels, so each component carries exactly one label, which its
    minimum member must hold.  Emits star edges (src=node, dst=root) for
    non-root nodes only, matching the loop's output contract.

    This is an executor task, not a driver collect: the gated edge list
    is coalesced into one partition and the kernel runs where the data
    is: coalesce(1) does not shuffle, so callers hand it a cut or scanned
    table (an uncut join would run in the one task).  Deterministic for
    retries (pure function of the edge set)."""

    def gen(batches):
        srcs, dsts = [], []
        for b in batches:
            srcs.append(b.column("src").to_numpy())
            dsts.append(b.column("dst").to_numpy())
        if not srcs:
            return
        u = np.concatenate(srcs)
        v = np.concatenate(dsts)
        ids = np.unique(np.concatenate([u, v]))
        ui = np.searchsorted(ids, u)
        vi = np.searchsorted(ids, v)
        p = np.arange(len(ids), dtype=np.int64)
        while True:
            ru, rv = p[ui], p[vi]
            hi = np.maximum(ru, rv)
            lo = np.minimum(ru, rv)
            mask = hi != lo
            if not mask.any():
                break
            # p is flat here (roots point to themselves), so hi/lo are
            # roots; hook every higher root to the smallest root seen
            np.minimum.at(p, hi[mask], lo[mask])
            while True:
                pp = p[p]
                if np.array_equal(pp, p):
                    break
                p = pp
        nonroot = np.nonzero(p != np.arange(len(ids)))[0]
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids[nonroot]), pa.array(ids[p[nonroot]])], ["src", "dst"]
        )

    return edges.select("src", "dst").coalesce(1).mapInArrow(
        gen, "src long, dst long"
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor: order-insensitive, overflow-free (ANSI-safe) set fingerprint;
    # copies of a repeated raw edge cancel in the xor but add to the count.
    # Convergence-by-fingerprint is probabilistic: a (count, xor-of-xxhash64)
    # collision between two successive DIFFERENT edge sets would terminate a
    # round early and silently emit a coarser clustering.  With a 64-bit
    # keyed hash that needs two distinct sets agreeing on both count and
    # xor — probability ~2^-64 per round, astronomically below hardware
    # error rates; accepted in exchange for not paying an exceptAll job
    # per round (the alternative exact check doubles per-round cost).
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    ckpt=None,
    stage_prefix: str = "cc",
    small_graph_max_edges: int | None = SMALL_GRAPH_MAX_EDGES,
) -> DataFrame:
    """edges(src, dst) -> star edges (doc_id, root) where root is the
    component min; component-min nodes themselves are NOT included (they
    have no outgoing star edge).

    ckpt: optional CheckpointManager — when it has a root, the kernel's
    output is the durable stage ``{stage_prefix}_components`` and each loop
    round the durable table ``{stage_prefix}_round_NNN`` instead of a
    localCheckpoint, making both routes resumable (see module docstring)."""
    durable = ckpt is not None and getattr(ckpt, "root", None) is not None
    # ONE fingerprint of the RAW edges gates both modes: its count bounds
    # the distinct count, and the kernel drops duplicates and self-loops
    prev = _fingerprint(edges)
    if small_graph_max_edges is not None and prev[0] <= small_graph_max_edges:
        star = (
            ckpt.stage(f"{stage_prefix}_components", lambda: _single_task_components(edges))
            if durable
            else _single_task_components(edges)
        )
        return star.select(F.col("src").alias("doc_id"), F.col("dst").alias("root"))
    # Star loop, seeded with the raw fingerprint: round 1 matching it
    # means raw == round_000 == round_001, a fixed point (up to the 2^-64
    # bound; a duplicate or self-loop in raw would make them differ).
    # Round edges point large -> small and pipeline pairs are src < dst, so
    # on those the seed saves a fingerprint job and never costs a round.
    #
    # Conf isolation (VERDICT r04 item 4): the loop needs its own shuffle
    # sizing and AQE off, so it runs on a PRIVATE session clone — a
    # concurrent query on the caller's session mid-loop sees the caller's
    # confs untouched (the old set-and-restore exposed the reduced
    # parallelism for the loop's duration).  Sessions share the context,
    # so cache/localCheckpoint blocks and the cluster are the same.
    spark = edges.sparkSession
    loop_spark = private_session(spark)
    # Constraint propagation off on the PRIVATE session (safe: invisible
    # to the caller).  Two reasons: (a) the recommended perf tuning
    # (build_spark) — the loop re-derives constraints over its self-union
    # shapes every round for inferred IsNotNull filters that are worthless
    # here (keys non-null by construction); (b) Spark's
    # UnionBase.rewriteConstraints crashes (NoSuchElementException on a
    # child attribute) when constraint rewriting walks the view-rebound
    # union inside _large_star — observed on vanilla sessions the moment
    # the loop moved onto a rebound frame.  Results are identical; the
    # caller's own plans still optimize under the caller's conf.
    loop_spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    edges = rebind(edges, loop_spark)
    if durable:
        # the clone's ckpt reads/writes stage tables on the loop session,
        # keeping every round's plan under the loop conf
        ckpt = copy.copy(ckpt)
        ckpt.spark = loop_spark

    def _cut(build, name: str) -> DataFrame:
        # build is a thunk: in durable mode a committed round reloads
        # from its table WITHOUT constructing (or running) the round plan
        if durable:
            return ckpt.stage(name, build)
        return build().localCheckpoint(eager=True)

    # Size the loop's shuffles to the measured edge count: each round is a
    # fixed handful of small shuffles, and running them at the session's
    # full shuffle parallelism means near-empty reducers — pure scheduler
    # overhead per round (localCheckpoint materialization bypasses AQE's
    # partition coalescing).  ~150k edges per reducer; large edge sets keep
    # the caller session's configured fan-out unchanged.
    try:
        base_parts = int(loop_spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        # non-numeric conf (e.g. "auto" on some platforms)
        base_parts = spark.sparkContext.defaultParallelism
    target = max(2, min(base_parts, prev[0] // 150_000 + 1))
    loop_spark.conf.set("spark.sql.shuffle.partitions", str(target))
    # AQE off for the loop: each round is a fixed shape of small
    # shuffles whose partitioning we just sized explicitly; with AQE
    # on, every round's materialization fans out into ~8 sub-jobs with
    # a driver replan between each — measured ~58 extra jobs / ~15 s
    # of pure scheduling churn per flagship run at test scale.
    loop_spark.conf.set("spark.sql.adaptive.enabled", "false")
    e = _cut(
        lambda: edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct(),
        f"{stage_prefix}_round_000",
    )
    for rnd in range(1, MAX_ROUNDS + 1):
        prev_e = e
        e = _cut(
            lambda: _small_star(_large_star(prev_e)),
            f"{stage_prefix}_round_{rnd:03d}",
        )
        cur = _fingerprint(e)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components did not converge in {MAX_ROUNDS} rounds"
        )
    # fixed point of small-star is a star graph: src -> component min;
    # hand the result back to the caller's session
    return rebind(
        e.select(F.col("src").alias("doc_id"), F.col("dst").alias("root")), spark
    )


def assignments_from_components(
    docs: DataFrame, star: DataFrame, id_col: str = "doc_id", dense: bool = False
) -> DataFrame:
    """Attach cluster labels to every doc (singletons label themselves).

    dense=True reproduces the reference's dense first-seen ids via a rank
    over distinct roots (fine at test scale; at 10^12 docs run with
    dense=False and use the stable min-doc-id root as the cluster id —
    the dense rank needs a global sort of one row per cluster).
    """
    labeled = docs.select(F.col(id_col).alias("doc_id")).join(
        star, "doc_id", "left"
    ).select("doc_id", F.coalesce("root", "doc_id").alias("root"))
    if not dense:
        return labeled.withColumnRenamed("root", "cluster_id")
    roots = labeled.select("root").distinct()
    dense_ids = roots.select(
        "root",
        (F.dense_rank().over(Window.orderBy("root")) - 1).alias("cluster_id"),
    )
    return labeled.join(dense_ids, "root").select("doc_id", "cluster_id")
