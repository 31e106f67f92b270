"""End-to-end parity: Spark pipeline vs the pure-Python reference oracle
on the synthetic webtext fixture (SURVEY.md §5: edge-set parity, assignment
parity, certainty parity, dup-pair recall >= 0.99)."""

import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig, PREPROCESS_FULL, PREPROCESS_NONE
from sparkdedup.io.webtext import generate_webtext, webtext_spark_df
from sparkdedup.pipeline import DedupPipeline

from .oracle import cluster_ref

N_ROWS = 400


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = generate_webtext(N_ROWS, seed=42)
    sdf = webtext_spark_df(spark, N_ROWS, seed=42)
    return pdf, sdf


def _run_both(spark, corpus, threshold, shingle_size, preprocess, **cfg_kwargs):
    pdf, sdf = corpus
    cfg = DedupConfig(
        threshold=threshold, shingle_size=shingle_size, preprocess=preprocess, **cfg_kwargs
    )
    # dense_labels: parity tests compare against the oracle's dense
    # first-seen cluster ids (the web-scale default is min-doc-id labels)
    pipe = DedupPipeline(spark, cfg, dense_labels=True)
    out = pipe.run(sdf, text_col="text", id_col="doc_id")
    # oracle expects the quirk-compatible options dict: explicit dict always
    assign_ref, edges_ref, cert_ref = cluster_ref(
        pdf["text"].tolist(),
        threshold=threshold,
        shingle_size=shingle_size,
        preprocess_options=cfg.preprocess_options(),
    )
    return out, assign_ref, edges_ref, cert_ref


@pytest.mark.parametrize(
    "threshold,shingle_size,preprocess",
    [
        (0.3, 6, PREPROCESS_NONE),
        (0.3, 6, PREPROCESS_FULL),
        (0.5, 4, PREPROCESS_NONE),
        (0.2, 2, PREPROCESS_FULL),
    ],
)
def test_edge_and_assignment_parity(spark, corpus, threshold, shingle_size, preprocess):
    out, assign_ref, edges_ref, cert_ref = _run_both(
        spark, corpus, threshold, shingle_size, preprocess
    )

    got_edges = {
        (r["src"], r["dst"], round(r["sim"], 9)) for r in out["edges"].collect()
    }
    want_edges = {(s, d, round(sim, 9)) for s, d, sim in edges_ref}
    assert got_edges == want_edges

    got = {r["doc_id"]: (r["cluster_id"], r["certainty"]) for r in out["assignments"].collect()}
    assert len(got) == N_ROWS
    for d, c in assign_ref.items():
        assert got[d][0] == c, f"doc {d}: cluster {got[d][0]} != ref {c}"
        assert abs(got[d][1] - cert_ref[d]) < 1e-9, f"doc {d} certainty"


def test_dup_pair_recall(spark, corpus):
    """BASELINE target: >= 0.99 of reference same-cluster pairs are ours
    too (with identical edges it is exactly 1.0)."""
    out, assign_ref, _, _ = _run_both(spark, corpus, 0.3, 6, PREPROCESS_NONE)
    got = {r["doc_id"]: r["cluster_id"] for r in out["assignments"].collect()}

    by_cluster = {}
    for d, c in assign_ref.items():
        by_cluster.setdefault(c, []).append(d)
    ref_pairs = [
        p
        for members in by_cluster.values()
        for p in itertools.combinations(sorted(members), 2)
    ]
    assert ref_pairs, "fixture must contain duplicate pairs"
    hit = sum(1 for a, b in ref_pairs if got[a] == got[b])
    recall = hit / len(ref_pairs)
    assert recall >= 0.99
    assert recall == 1.0  # identical edge set -> exact


def test_exact_dedup_prepass_same_clusters(spark, corpus):
    """Scale mode (exact-dup pre-pass ON) must produce identical cluster
    *partitions* (certainty may differ only for docs whose duplicate edges
    were collapsed — labels must match exactly since rep = min doc_id)."""
    out, assign_ref, _, _ = _run_both(
        spark, corpus, 0.3, 6, PREPROCESS_NONE, exact_dedup_prepass=True
    )
    got = {r["doc_id"]: r["cluster_id"] for r in out["assignments"].collect()}
    assert got == assign_ref


def test_salting_equivalence(spark, corpus):
    """Hot-band triangle salting is a shuffle-shape change only: forcing a
    tiny salt threshold must not change the edge set against a threshold
    above every band size (one cell per band)."""
    pdf, sdf = corpus
    cfg_plain = DedupConfig(
        threshold=0.3, shingle_size=6, band_salt_threshold=len(pdf) + 1
    )
    cfg_salt = DedupConfig(threshold=0.3, shingle_size=6, band_salt_threshold=5)
    e1 = DedupPipeline(spark, cfg_plain).run(sdf)["edges"]
    e2 = DedupPipeline(spark, cfg_salt).run(sdf)["edges"]
    s1 = {(r["src"], r["dst"], round(r["sim"], 9)) for r in e1.collect()}
    s2 = {(r["src"], r["dst"], round(r["sim"], 9)) for r in e2.collect()}
    assert s1 == s2


@pytest.mark.parametrize("salt", [None, 0, True])
def test_salt_threshold_must_be_positive_int(spark, salt):
    """A salt threshold of None or 0 would give a null cell count and
    silently zero pairs, and a bool is not a band size; the staged
    (candidate_pairs) and fused (run) routes both reject them before any
    pair job."""
    from sparkdedup.operators.pairs import candidate_pairs

    sdf = spark.createDataFrame(
        [(0, "a near duplicate text"), (1, "a near duplicate text")],
        "doc_id long, text string",
    )
    bands = spark.createDataFrame([(7, 0), (7, 1)], "band_key long, doc_id long")
    with pytest.raises(ValueError, match="positive int"):
        candidate_pairs(bands, salt_threshold=salt)
    cfg = DedupConfig(threshold=0.3, shingle_size=4, band_salt_threshold=salt)
    with pytest.raises(ValueError, match="positive int"):
        DedupPipeline(spark, cfg).run(sdf)


def test_salt_threshold_accepts_numpy_int(spark):
    """A threshold computed from data (a numpy integer) is a valid int."""
    from sparkdedup.operators.pairs import candidate_pairs

    bands = spark.createDataFrame(
        [(7, 0), (7, 1), (7, 2)], "band_key long, doc_id long"
    )
    got = {(r["src"], r["dst"]) for r in candidate_pairs(bands, np.int64(2)).collect()}
    assert got == {(0, 1), (0, 2), (1, 2)}


def test_property_planted_dups_cocluster(spark, corpus):
    """Property checks (SURVEY.md §5): exact duplicates always co-cluster;
    empty/whitespace docs cluster together (shared 'empty_document' sig)."""
    pdf, sdf = corpus
    out = DedupPipeline(spark, DedupConfig(threshold=0.5, shingle_size=4)).run(sdf)
    got = {r["doc_id"]: r["cluster_id"] for r in out["assignments"].collect()}
    texts = pdf["text"].tolist()
    # exact duplicates (same raw text) must share a cluster
    seen = {}
    for i, t in enumerate(texts):
        if t in seen:
            assert got[i] == got[seen[t]], f"exact dup split: {i} vs {seen[t]}"
        else:
            seen[t] = i
    # empty + whitespace-only docs produce the same signature
    empties = [i for i, t in enumerate(texts) if not t.strip()]
    assert len({got[i] for i in empties}) == 1


def test_run_never_mutates_caller_session_confs(spark):
    """VERDICT r04 item 4: run() (and the CC loop inside it) executes on
    a private session clone — a concurrent observer on the CALLER's
    session must never see the pipeline's conf tuning (constraint
    propagation off, loop shuffle sizing, AQE off), at any point DURING
    the run, not just after."""
    import threading
    import time as _time

    sdf = webtext_spark_df(spark, 150, seed=1)
    watched = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.constraintPropagation.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled",
        )
    }
    deviations = []
    done = threading.Event()

    def poll():
        while not done.is_set():
            for k, v in watched.items():
                cur = spark.conf.get(k)
                if cur != v:
                    deviations.append((k, cur))
            _time.sleep(0.01)

    t = threading.Thread(target=poll)
    t.start()
    try:
        out = DedupPipeline(spark, DedupConfig(threshold=0.3, shingle_size=6)).run(sdf)
        n = out["assignments"].count()
    finally:
        done.set()
        t.join()
    assert n == 150
    assert deviations == []
    for k, v in watched.items():
        assert spark.conf.get(k) == v
    # outputs come back bound to the caller's session (joinable with the
    # caller's own frames)
    assert out["assignments"].sparkSession is spark


def test_capped_pairs_match_capped_oracle(spark):
    """SURVEY §2.7 T7: the deterministic per-doc candidate cap
    (cap_pairs_per_doc, config.max_candidates) against its independent
    brute-force twin (oracle.cap_pairs_ref) — first property-style on
    random pair graphs, then end-to-end through the pipeline on a corpus
    with a 30-doc near-duplicate hub where the cap genuinely binds."""
    import random

    from sparkdedup.operators.pairs import cap_pairs_per_doc
    from .oracle import (
        cap_pairs_ref,
        candidate_pairs_ref,
        minhash_ref,
        optimal_param_ref,
        preprocess_text_ref,
        shingles_ref,
    )

    for seed in (0, 1):
        rnd = random.Random(seed)
        pairs = set()
        while len(pairs) < 60:
            a, b = rnd.randrange(40), rnd.randrange(40)
            if a != b:
                pairs.add((min(a, b), max(a, b)))
        pdf = spark.createDataFrame(sorted(pairs), "src long, dst long")
        for cap in (1, 2, 5):
            got = {
                (r["src"], r["dst"])
                for r in cap_pairs_per_doc(pdf, cap).collect()
            }
            assert got == cap_pairs_ref(pairs, cap), (seed, cap)

    # end-to-end: hub of 30 identical docs -> 29 candidates each, cap 3
    hub = "the quick brown fox jumps over the lazy dog again and again"
    texts = [hub] * 30 + [
        "completely different first text about spark execution engines",
        "another unrelated document concerning jpeg entropy coding",
    ]
    cfg = DedupConfig(threshold=0.3, shingle_size=6, max_candidates=3)
    sdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = DedupPipeline(spark, cfg).run(sdf)
    engine_edges = {(r["src"], r["dst"]) for r in out["edges"].collect()}

    popts = dict(PREPROCESS_NONE)
    sigs = [
        minhash_ref(shingles_ref(preprocess_text_ref(t, popts), 6), 64, 42)
        for t in texts
    ]
    b, r = optimal_param_ref(0.3, 64)
    import numpy as np

    capped = cap_pairs_ref(candidate_pairs_ref(sigs, b, r), 3)
    want = {
        (i, j)
        for i, j in capped
        if float(np.count_nonzero(sigs[i] == sigs[j])) / 64.0 >= 0.3
    }
    assert engine_edges == want
    # the cap genuinely bound: far fewer than the K30 hub's 435 pairs
    assert len(engine_edges) < 435
