"""Regression: the full pipeline must run on a VANILLA SparkSession — no
workaround confs set by the library's own builders.

Round-2 shipped a bug where the cold∪hot candidate-pair union crashed
Spark's optimizer (``UnionBase.rewriteConstraints`` AttributeMap "key not
found") unless ``spark.sql.constraintPropagation.enabled=false`` was set —
which ``build_spark``/conftest did, so bench and pytest were green while
the driver's vanilla session (and any user's plain ``getOrCreate()``)
crashed.  ``candidate_pairs`` is now union-free; this test pins that by
running every union-introducing config variant on a fresh ``newSession()``
with constraint propagation explicitly forced ON.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.io.webtext import webtext_spark_df
from sparkdedup.pipeline import DedupPipeline


def make_corpus(spark):
    return webtext_spark_df(spark, 300, seed=42)


@pytest.fixture()
def vanilla(spark):
    """Fresh SQLConf (newSession) with default/vanilla optimizer confs
    explicitly restored — catches any reliance on session workarounds."""
    s = spark.newSession()
    # force the default even if the parent context carried an override
    s.conf.set("spark.sql.constraintPropagation.enabled", "true")
    s.conf.set("spark.sql.adaptive.enabled", "true")
    return s


def test_flagship_runs_on_vanilla_session(vanilla):
    docs = make_corpus(vanilla)
    pipe = DedupPipeline(vanilla, DedupConfig(threshold=0.3, shingle_size=4))
    out = pipe.run(docs, text_col="text", id_col="doc_id")
    # both driver-facing outputs must materialize without optimizer crashes
    n_docs = out["assignments"].count()
    assert n_docs == docs.count()
    assert out["edges"].count() > 0


def test_all_union_variants_on_vanilla_session(vanilla):
    """exact prepass (edges∪dup_edges), simhash pre-filter, substring stage
    and salted-hot bands (tiny salt threshold forces multi-cell buckets) —
    every plan shape a config can produce, optimized under vanilla confs."""
    docs = make_corpus(vanilla)
    cfg = DedupConfig(
        threshold=0.3,
        shingle_size=4,
        exact_dedup_prepass=True,
        band_salt_threshold=2,  # force the hot multi-cell path
        simhash_hamming_max=64,  # no-op filter, but wires the joins in
        substring_min_span=8,
    )
    pipe = DedupPipeline(vanilla, cfg)
    out = pipe.run(docs, text_col="text", id_col="doc_id")
    assert out["assignments"].count() == docs.count()
    assert out["edges"].count() > 0
    out["substring_edges"].count()  # must not crash


def test_stage_composition_with_constraint_propagation_on(vanilla):
    """DedupPipeline.run() set-and-restores the constraintPropagation perf
    conf, so the run()-level tests above do NOT exercise the optimizer
    with it on.  This one composes the public stage methods directly —
    nothing overrides the conf — so every plan shape (salted pairs,
    verify joins, the edges∪dup_edges union, CC rounds) is optimized and
    executed under vanilla constraint propagation."""
    from pyspark.sql import functions as F

    from sparkdedup.operators.certainty import with_certainty

    assert vanilla.conf.get("spark.sql.constraintPropagation.enabled") == "true"
    docs = make_corpus(vanilla)
    pipe = DedupPipeline(vanilla, DedupConfig(threshold=0.3, shingle_size=4))
    clean = pipe.normalize(docs, "text", "doc_id")
    sigs = pipe.signatures(clean).localCheckpoint(eager=True)
    edges = pipe.edges(sigs).localCheckpoint(eager=True)
    # the exact-prepass union shape (REAL dup edges — an empty branch
    # would be pruned by PropagateEmptyRelation and never exercise the
    # Union), optimized under CP on
    hashed = clean.select("doc_id", F.md5("clean").alias("_h"))
    reps = hashed.groupBy("_h").agg(F.min("doc_id").alias("rep"))
    groups = hashed.join(reps, "_h").select("rep", "doc_id")
    dup_edges = (
        groups.where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
        .withColumn("sim", F.lit(1.0))
    )
    assert dup_edges.count() > 0  # fixture plants exact duplicates
    all_edges = edges.unionByName(dup_edges)
    assignments = pipe.cluster(clean.select("doc_id"), all_edges)
    final = with_certainty(assignments, all_edges)
    assert final.count() == clean.count()
    # the conf was never touched by the stage methods
    assert vanilla.conf.get("spark.sql.constraintPropagation.enabled") == "true"


def test_salted_pairs_match_unsalted_on_vanilla_session(vanilla):
    """The unified salted group-explode must emit exactly the unsalted
    oracle's pair set (every pair sharing a band), on a vanilla session,
    with hot buckets forced."""
    import numpy as np

    from sparkdedup.functions.signatures import attach_signatures
    from sparkdedup.operators.bands import explode_bands
    from sparkdedup.operators.pairs import candidate_pairs

    from .oracle import candidate_pairs_ref

    docs = make_corpus(vanilla)
    clean = docs.select("doc_id", F.col("text").alias("clean"))
    sigs = attach_signatures(clean, 4, 16, 42).localCheckpoint(eager=True)
    b, r = DedupConfig(threshold=0.3, num_perm=16).bands_rows()
    bands = explode_bands(sigs, b, r)
    rows = sorted((row["doc_id"], row["sig"]) for row in sigs.collect())
    ids = [doc_id for doc_id, _ in rows]
    ref = {
        (ids[i], ids[j])
        for i, j in candidate_pairs_ref([np.array(sig) for _, sig in rows], b, r)
    }
    assert ref  # the corpus plants near-duplicates
    # salt=1 is the extreme: every member its own cell, all pairs cross-
    # bucket — maximal replication must still be exact
    for salt in (1, 2, 3, 1000):
        got = {
            (r["src"], r["dst"])
            for r in candidate_pairs(bands, salt_threshold=salt).collect()
        }
        assert got == ref, f"salt_threshold={salt} changed the pair set"
