"""Incremental ingest must equal one global batch run (the reference's
multi-batch mode produces the same clusters as single-batch given the
same uncapped edge set — SURVEY.md §2.4 L3 note)."""

import json
import os

import pytest

from sparkdedup.config import PREPROCESS_FULL, DedupConfig
from sparkdedup.incremental import IncrementalDedup
from sparkdedup.io.webtext import webtext_spark_df
from sparkdedup.pipeline import DedupPipeline


@pytest.mark.parametrize(
    "broadcast_max", [DedupConfig.verify_broadcast_max_bytes, None],
    ids=["broadcast", "shuffle_hash"],
)
def test_incremental_matches_global(spark, broadcast_max):
    """Both verify strategies of the incremental route (broadcast under
    the default cap, shuffle-hash with None) equal the global run."""
    n = 240
    sdf = webtext_spark_df(spark, n, seed=42).localCheckpoint(eager=True)
    cfg = DedupConfig(
        threshold=0.3, shingle_size=6, verify_broadcast_max_bytes=broadcast_max
    )

    full = DedupPipeline(spark, cfg).run(sdf)
    want = {r["doc_id"]: r["cluster_id"] for r in full["assignments"].collect()}

    inc = IncrementalDedup(spark, cfg)
    b1 = sdf.where("doc_id < 80")
    b2 = sdf.where("doc_id >= 80 and doc_id < 160")
    b3 = sdf.where("doc_id >= 160")
    inc.ingest_batch(b1)
    inc.ingest_batch(b2)
    assign = inc.ingest_batch(b3)
    got = {r["doc_id"]: r["cluster_id"] for r in assign.collect()}

    assert got == want

    # edge sets identical too — and append-only state must hold NO
    # duplicate pair rows (the O(delta) design never rewrites old edges)
    want_edges = {(r["src"], r["dst"]) for r in full["edges"].collect()}
    all_edge_rows = [(r["src"], r["dst"]) for r in inc.edges.collect()]
    assert len(all_edge_rows) == len(set(all_edge_rows))
    assert set(all_edge_rows) == want_edges


def test_incremental_state_dir_survives_instances(spark, tmp_path):
    """state_dir mode: deltas append to parquet; a NEW IncrementalDedup
    over the same dir continues the run and still equals the global
    batch result."""
    n = 180
    sdf = webtext_spark_df(spark, n, seed=42).localCheckpoint(eager=True)
    cfg = DedupConfig(threshold=0.3, shingle_size=6)
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in DedupPipeline(spark, cfg).run(sdf)["assignments"].collect()
    }

    sd = str(tmp_path / "state")
    inc1 = IncrementalDedup(spark, cfg, state_dir=sd)
    inc1.ingest_batch(sdf.where("doc_id < 60"))
    inc1.ingest_batch(sdf.where("doc_id >= 60 and doc_id < 120"))
    # only the state that cannot be recomputed (band rows derive from
    # the signatures) is stored
    assert sorted(os.listdir(sd)) == ["_commits", "edges", "signatures"]

    inc2 = IncrementalDedup(spark, cfg, state_dir=sd)  # fresh instance
    assign = inc2.ingest_batch(sdf.where("doc_id >= 120"))
    got = {r["doc_id"]: r["cluster_id"] for r in assign.collect()}

    # min-doc-id labels on identical partitions
    def canon(d):
        clusters = {}
        for doc, c in d.items():
            clusters.setdefault(c, set()).add(doc)
        return {frozenset(v) for v in clusters.values()}

    assert canon(got) == canon(want)


def test_exactly_once_commit_log(spark, tmp_path):
    """Replay protection + torn-write invisibility: a re-delivered batch
    (same batch_id) must not change the committed state, and delta dirs
    without a commit marker (a crash before commit) are never read."""
    docs = webtext_spark_df(spark, 120, seed=3).select("doc_id", "text")
    cfg = DedupConfig(threshold=0.3, shingle_size=4)
    sd = str(tmp_path / "state")
    inc = IncrementalDedup(spark, cfg, state_dir=sd)
    b0 = docs.where("doc_id < 60")
    b1 = docs.where("doc_id >= 60")

    a1 = inc.ingest_batch(b0, batch_id=0)
    sig_n = inc.signatures.count()
    edge_n = inc.edges.count() if inc.edges is not None else 0
    a1_rows = {(r["doc_id"], r["cluster_id"]) for r in a1.collect()}

    # replayed delivery of the SAME batch id: a no-op on state
    a2 = inc.ingest_batch(b0, batch_id=0)
    assert inc.signatures.count() == sig_n
    assert (inc.edges.count() if inc.edges is not None else 0) == edge_n
    assert {(r["doc_id"], r["cluster_id"]) for r in a2.collect()} == a1_rows

    # torn write: a delta dir with no commit marker is invisible
    os.makedirs(os.path.join(sd, "signatures", "delta=b99"), exist_ok=True)
    inc2 = IncrementalDedup(spark, cfg, state_dir=sd)  # fresh instance
    assert inc2.signatures.count() == sig_n

    # fresh instance folds the next batch exactly once despite a replay
    inc2.ingest_batch(b1, batch_id=1)
    got = inc2.ingest_batch(b1, batch_id=1)  # replayed delivery
    assert inc2.signatures.count() == 120

    want = {
        r["doc_id"]: r["cluster_id"]
        for r in DedupPipeline(spark, cfg)
        .run(docs)["assignments"]
        .select("doc_id", "cluster_id")
        .collect()
    }
    got_map = {r["doc_id"]: r["cluster_id"] for r in got.collect()}
    assert got_map == want


def test_overlapping_batches_first_write_wins(spark):
    """A doc_id delivered in two different batches must appear exactly
    once in state and exactly once in the returned assignments (the
    first-write-wins anti-join on the stored doc_ids)."""
    docs = webtext_spark_df(spark, 120, seed=3).select("doc_id", "text")
    cfg = DedupConfig(threshold=0.3, shingle_size=4)
    inc = IncrementalDedup(spark, cfg)
    inc.ingest_batch(docs.where("doc_id < 80"))
    assign = inc.ingest_batch(docs.where("doc_id >= 40"))  # 40..79 overlap
    assert inc.signatures.count() == 120
    rows = assign.collect()
    assert len(rows) == 120
    assert len({r["doc_id"] for r in rows}) == 120

    want = {
        r["doc_id"]: r["cluster_id"]
        for r in DedupPipeline(spark, cfg)
        .run(docs)["assignments"]
        .select("doc_id", "cluster_id")
        .collect()
    }
    assert {r["doc_id"]: r["cluster_id"] for r in rows} == want


@pytest.mark.parametrize(
    "field, value",
    [
        ("simhash_hamming_max", 64),
        ("max_candidates", 3),
        ("substring_min_span", 8),
        ("exact_dedup_prepass", True),
    ],
)
def test_incremental_rejects_batch_only_config(spark, field, value):
    """Incremental ingest does not run these stages; accepting the field
    would silently give different edges from a batch run."""
    cfg = DedupConfig(threshold=0.3, shingle_size=4, **{field: value})
    with pytest.raises(ValueError, match=field):
        IncrementalDedup(spark, cfg)


def test_cc_kernel_never_runs_an_uncut_join(spark, tmp_path, monkeypatch):
    """The small-graph kernel coalesces its input into one task without a
    shuffle, so any join left in that input would run in the one task:
    for the contracted graph that is a join over EVERY prior assignment.
    First batch, incremental batch and a fresh instance's rebuild must all
    hand the kernel an edge table with no join in its plan."""
    import importlib

    # the package re-exports the function under the module's name
    cc_mod = importlib.import_module("sparkdedup.operators.connected_components")
    plans = []
    kernel = cc_mod._single_task_components

    def recording(edges):
        plans.append(edges._jdf.queryExecution().executedPlan().toString())
        return kernel(edges)

    monkeypatch.setattr(cc_mod, "_single_task_components", recording)
    sdf = webtext_spark_df(spark, 120, seed=42).localCheckpoint(eager=True)
    cfg = DedupConfig(threshold=0.3, shingle_size=6)
    sd = str(tmp_path / "state")
    inc = IncrementalDedup(spark, cfg, state_dir=sd)
    inc.ingest_batch(sdf.where("doc_id < 40"))  # first batch: CC of new_edges
    inc.ingest_batch(sdf.where("doc_id >= 40 and doc_id < 80"))  # contracted
    IncrementalDedup(spark, cfg, state_dir=sd).ingest_batch(
        sdf.where("doc_id >= 80")
    )  # fresh instance: one rebuild over the stored edges, this batch's too
    assert len(plans) == 3
    for plan in plans:
        assert "Join" not in plan, plan


def _global_labels(spark, sdf, cfg) -> dict:
    out = DedupPipeline(spark, cfg).run(sdf)["assignments"]
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_legacy_bands_layout_resumes(spark, tmp_path):
    """A state_dir in the older three-table layout (a bands/delta=<token>
    table per batch, commit markers without a config) resumes on a fresh
    instance to the global run's assignments, and its bands/ table gains
    no delta."""
    from sparkdedup.operators.bands import explode_bands

    sdf = webtext_spark_df(spark, 180, seed=42).localCheckpoint(eager=True)
    cfg = DedupConfig(threshold=0.3, shingle_size=6)
    sd = str(tmp_path / "state")
    inc1 = IncrementalDedup(spark, cfg, state_dir=sd)
    inc1.ingest_batch(sdf.where("doc_id < 60"), batch_id=0)
    inc1.ingest_batch(sdf.where("doc_id >= 60 and doc_id < 120"), batch_id=1)

    # rewrite the state into the older layout
    b, r = cfg.bands_rows()
    commits = os.path.join(sd, "_commits")
    for token in ("b0", "b1"):
        sigs = spark.read.parquet(os.path.join(sd, "signatures", f"delta={token}"))
        explode_bands(sigs, b, r).write.parquet(
            os.path.join(sd, "bands", f"delta={token}")
        )
        with open(os.path.join(commits, f"{token}.json"), "w") as f:
            json.dump({"batch_id": int(token[1:]), "token": token}, f)

    inc2 = IncrementalDedup(spark, cfg, state_dir=sd)
    assign = inc2.ingest_batch(sdf.where("doc_id >= 120"), batch_id=2)
    got = {r["doc_id"]: r["cluster_id"] for r in assign.collect()}
    assert got == _global_labels(spark, sdf, cfg)
    assert sorted(os.listdir(os.path.join(sd, "bands"))) == ["delta=b0", "delta=b1"]


@pytest.fixture(scope="module")
def written_state(spark, tmp_path_factory):
    """A state_dir holding one committed batch under the default config,
    and the corpus it came from."""
    sdf = webtext_spark_df(spark, 120, seed=5).localCheckpoint(eager=True)
    sd = str(tmp_path_factory.mktemp("written") / "state")
    IncrementalDedup(spark, DedupConfig(), state_dir=sd).ingest_batch(
        sdf.where("doc_id < 60"), batch_id=0
    )
    return sd, sdf


@pytest.mark.parametrize(
    "field, value",
    [
        ("threshold", 0.5),
        ("shingle_size", 4),
        ("num_perm", 128),
        ("seed", 7),
        ("preprocess", PREPROCESS_FULL),
        ("band_drop_threshold", 100),
    ],
)
def test_state_dir_rejects_changed_config(spark, written_state, field, value):
    """Reopening a state_dir under a config that changes the stored
    signatures or edges would mix incompatible state."""
    sd, _ = written_state
    with pytest.raises(ValueError, match=field):
        IncrementalDedup(spark, DedupConfig(**{field: value}), state_dir=sd)


def test_state_dir_accepts_plan_shape_change(spark, written_state, tmp_path):
    """The verify broadcast cap only picks a join strategy: a state_dir
    written under the default continues under another cap, and the
    result still equals the global run."""
    import shutil

    src, sdf = written_state
    sd = str(tmp_path / "state")
    shutil.copytree(src, sd)  # the module's state stays one batch long
    cfg = DedupConfig(verify_broadcast_max_bytes=None)
    assign = IncrementalDedup(spark, cfg, state_dir=sd).ingest_batch(
        sdf.where("doc_id >= 60"), batch_id=1
    )
    got = {r["doc_id"]: r["cluster_id"] for r in assign.collect()}
    assert got == _global_labels(spark, sdf, DedupConfig())
