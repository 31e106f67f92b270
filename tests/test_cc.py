"""Connected-components + dense-relabel unit tests vs the union-find
oracle (SURVEY.md §2.8 C1/C2)."""

import random

import pytest

from sparkdedup.operators.connected_components import (
    assignments_from_components,
    connected_components,
)

from .oracle import UnionFindRef


def _spark_cc(spark, n, edge_list):
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list] or [(0, 0)], "src long, dst long"
    )
    if not edge_list:
        edges = edges.limit(0)
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    star = connected_components(edges)
    out = assignments_from_components(docs, star, dense=True)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def _ref_cc(n, edge_list):
    uf = UnionFindRef(n)
    for a, b in edge_list:
        uf.union(a, b)
    return uf.assignments()


def test_chain_graph(spark):
    # worst-case diameter: a long path
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    assert _spark_cc(spark, n, edges) == _ref_cc(n, edges)


def test_no_edges_all_singletons(spark):
    assert _spark_cc(spark, 10, []) == {i: i for i in range(10)}


def test_mixed_components_dense_ids(spark):
    n = 20
    edges = [(3, 7), (7, 11), (0, 19), (5, 6), (6, 5), (12, 13)]
    got = _spark_cc(spark, n, edges)
    ref = _ref_cc(n, edges)
    assert got == ref
    # dense first-seen semantics: doc 0's cluster is 0
    assert got[0] == 0 and got[19] == 0


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(40)]
        edges = [(a, b) for a, b in edges if a != b]
        assert _spark_cc(spark, n, edges) == _ref_cc(n, edges), trial


def test_star_and_clique(spark):
    n = 12
    edges = [(0, i) for i in range(1, 6)] + [
        (a, b) for a in range(6, 10) for b in range(a + 1, 10)
    ]
    assert _spark_cc(spark, n, edges) == _ref_cc(n, edges)


def test_cc_durable_rounds_resume_after_kill(spark, tmp_path, monkeypatch):
    """VERDICT r03 item 4: with a CheckpointManager, star-loop rounds are
    durable tables — a job killed mid-loop resumes from the committed
    rounds (reloaded, not recomputed) and produces identical labels.  The
    loop runs only above the small-graph gate, so the gate is switched
    off here."""
    import importlib

    # the operators package re-exports the FUNCTION under the same name,
    # shadowing the submodule attribute — resolve the module explicitly
    cc = importlib.import_module("sparkdedup.operators.connected_components")
    from sparkdedup.checkpoint import CheckpointManager

    n = 64
    edge_list = [(i, i + 1) for i in range(n - 1)]  # chain: many rounds
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    def labels(star):
        out = assignments_from_components(docs, star, dense=True)
        return {r["doc_id"]: r["cluster_id"] for r in out.collect()}

    want = labels(connected_components(edges))  # memory-only reference run

    root = str(tmp_path / "cc_ckpt")
    manifest = {"test": "cc_durable", "n": n}

    # --- run 1: crash after 2 durable rounds are committed ---
    calls = {"n": 0}
    real_small_star = cc._small_star

    def crashing_small_star(e):
        calls["n"] += 1
        if calls["n"] > 2:
            raise RuntimeError("simulated executor/job loss mid-CC-loop")
        return real_small_star(e)

    monkeypatch.setattr(cc, "_small_star", crashing_small_star)
    ck1 = CheckpointManager(spark, root, manifest=manifest)
    with pytest.raises(RuntimeError, match="simulated"):
        connected_components(edges, ckpt=ck1, small_graph_max_edges=None)
    monkeypatch.undo()
    committed = ck1.list_stages()
    assert "cc_round_000" in committed and "cc_round_002" in committed

    # --- run 2: resume — committed rounds reload without re-running ---
    rebuilt = {"n": 0}

    def counting_small_star(e):
        rebuilt["n"] += 1
        return real_small_star(e)

    monkeypatch.setattr(cc, "_small_star", counting_small_star)
    ck2 = CheckpointManager(spark, root, manifest=manifest)
    star = connected_components(edges, ckpt=ck2, small_graph_max_edges=None)
    got = labels(star)
    assert got == want
    # rounds 1-2 came from tables; only the remaining rounds were built
    total_rounds = len(ck2.list_stages()) - 1  # minus cc_round_000
    assert 0 < rebuilt["n"] == total_rounds - 2

    # conf restoration survived the crash path of run 1
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_small_graph_kernel_matches_star_loop(spark, tmp_path, monkeypatch):
    """Round-6 fast path: the single-task numpy kernel (default for small
    graphs, in memory and durable mode) must produce the same star edges
    as the large-star/small-star loop (forced via
    small_graph_max_edges=None) on adversarial shapes — long chain (worst
    diameter), random graphs, cliques, duplicate edges, self-loops, and
    the empty set.  Both modes feed the kernel the raw edges, so
    duplicates and self-loops reach it undeduplicated."""
    import importlib

    cc = importlib.import_module("sparkdedup.operators.connected_components")
    from sparkdedup.checkpoint import CheckpointManager

    kernel_inputs = []
    real_kernel = cc._single_task_components

    def recording_kernel(e):
        kernel_inputs.append(e.count())
        return real_kernel(e)

    monkeypatch.setattr(cc, "_single_task_components", recording_kernel)

    random_graphs = []
    rng = random.Random(13)
    for _ in range(3):
        n = 80
        es = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
        random_graphs.append([(a, b) for a, b in es if a != b])
    shapes = [
        [(i, i + 1) for i in range(63)],                       # chain
        [(0, i) for i in range(1, 9)],                         # star
        [(a, b) for a in range(5) for b in range(a + 1, 5)],   # clique
        [(1, 2), (2, 1), (1, 2), (3, 4), (4, 3), (3, 4)],      # duplicates
        [(5, 5), (1, 2), (2, 2), (7, 7)],                      # self-loops
        [(6, 6)],                                              # only a self-loop
        [],                                                    # empty
        *random_graphs,
    ]
    for k, edge_list in enumerate(shapes):
        edges = spark.createDataFrame(
            [(a, b) for a, b in edge_list] or [(0, 0)], "src long, dst long"
        )
        if not edge_list:
            edges = edges.limit(0)
        kernel_inputs.clear()
        fast = connected_components(edges)
        ck = CheckpointManager(spark, str(tmp_path / f"shape_{k}"))
        durable = connected_components(edges, ckpt=ck)
        loop = connected_components(edges, small_graph_max_edges=None)
        assert kernel_inputs == [len(edge_list)] * 2, edge_list[:5]
        to_set = lambda df: {(r["doc_id"], r["root"]) for r in df.collect()}
        want = to_set(loop)
        assert to_set(fast) == want, edge_list[:5]
        assert to_set(durable) == want, edge_list[:5]
        assert ck.list_stages() == ["cc_components"], edge_list[:5]


def test_cc_durable_kernel_resumes_from_components_stage(
    spark, tmp_path, monkeypatch
):
    """Below the gate, durable CC commits the kernel's output as ONE
    stage (cc_components, no round tables); a second run against the same
    manifest reloads it without running the kernel, with identical
    labels."""
    import importlib

    cc = importlib.import_module("sparkdedup.operators.connected_components")
    from sparkdedup.checkpoint import CheckpointManager

    n = 40
    edge_list = [(i, i + 1) for i in range(0, n - 1, 2)] + [(3, 5), (5, 7)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    def labels(star):
        out = assignments_from_components(docs, star, dense=True)
        return {r["doc_id"]: r["cluster_id"] for r in out.collect()}

    root = str(tmp_path / "cc_kernel")
    manifest = {"test": "cc_kernel", "n": n}
    ck1 = CheckpointManager(spark, root, manifest=manifest)
    first = labels(connected_components(edges, ckpt=ck1))
    assert first == _ref_cc(n, edge_list)
    assert ck1.list_stages() == ["cc_components"]

    kernel_runs = {"n": 0}
    real_kernel = cc._single_task_components

    def counting_kernel(e):
        kernel_runs["n"] += 1
        return real_kernel(e)

    monkeypatch.setattr(cc, "_single_task_components", counting_kernel)
    ck2 = CheckpointManager(spark, root, manifest=manifest)
    assert labels(connected_components(edges, ckpt=ck2)) == first
    assert kernel_runs["n"] == 0


def test_cc_durable_labels_match_memory_mode(spark, tmp_path):
    """Durable-rounds mode is a physical choice only: labels must be
    identical to the localCheckpoint mode on a mixed graph."""
    from sparkdedup.checkpoint import CheckpointManager

    random_edges = [(3, 7), (7, 11), (0, 19), (5, 6), (12, 13), (13, 14), (14, 12)]
    edges = spark.createDataFrame(random_edges, "src long, dst long")
    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")

    def labels(star):
        out = assignments_from_components(docs, star, dense=True)
        return {r["doc_id"]: r["cluster_id"] for r in out.collect()}

    ck = CheckpointManager(spark, str(tmp_path / "ck"), manifest={"m": 1})
    assert labels(connected_components(edges, ckpt=ck)) == labels(
        connected_components(edges)
    )


def _counted_cc(monkeypatch, spark, tmp_path, durable, **kwargs):
    """Run connected_components on a chain with one duplicate edge and one
    self-loop, counting _fingerprint, _small_star (one call per loop
    round), private_session and rebind calls."""
    import importlib

    cc = importlib.import_module("sparkdedup.operators.connected_components")
    from sparkdedup.checkpoint import CheckpointManager

    calls = {"_fingerprint": 0, "_small_star": 0, "private_session": 0, "rebind": 0}

    def counting(name):
        real = getattr(cc, name)

        def wrapper(*a, **kw):
            calls[name] += 1
            return real(*a, **kw)

        return wrapper

    for name in calls:
        monkeypatch.setattr(cc, name, counting(name))
    edge_list = [(i, i + 1) for i in range(9)] + [(1, 2), (5, 5)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    ck = CheckpointManager(spark, str(tmp_path / "ck")) if durable else None
    star = connected_components(edges, ckpt=ck, **kwargs)
    assert {(r["doc_id"], r["root"]) for r in star.collect()} == {
        (i, 0) for i in range(1, 10)
    }
    monkeypatch.undo()
    return calls, edge_list, ck


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "durable"])
def test_cc_fingerprints_raw_input_once_plus_once_per_round(
    spark, tmp_path, monkeypatch, durable
):
    """Both modes fingerprint the RAW input once and gate on its count
    (duplicates and self-loops included); the loop adds one fingerprint
    per round and nothing else."""
    n_raw = 11  # 9 chain edges + a duplicate + a self-loop
    calls, edge_list, ck = _counted_cc(
        monkeypatch, spark, tmp_path, durable, small_graph_max_edges=n_raw
    )
    assert len(edge_list) == n_raw
    assert calls["_fingerprint"] == 1 and calls["_small_star"] == 0
    if durable:
        assert ck.list_stages() == ["cc_components"]

    # one raw edge over the gate: the loop, though only 9 edges are distinct
    calls, _, ck = _counted_cc(
        monkeypatch, spark, tmp_path / "loop", durable, small_graph_max_edges=n_raw - 1
    )
    rounds = calls["_small_star"]
    assert rounds > 0
    assert calls["_fingerprint"] == 1 + rounds
    if durable:
        assert ck.list_stages() == [f"cc_round_{r:03d}" for r in range(rounds + 1)]


@pytest.mark.parametrize("durable", [False, True], ids=["memory", "durable"])
def test_cc_kernel_route_makes_no_private_session(
    spark, tmp_path, monkeypatch, durable
):
    """The private session, its rebinds and the ckpt clone belong to the
    star loop alone: the kernel route runs on the caller's session."""
    calls, _, _ = _counted_cc(monkeypatch, spark, tmp_path, durable)
    assert calls["private_session"] == 0 and calls["rebind"] == 0
    calls, _, _ = _counted_cc(
        monkeypatch, spark, tmp_path / "loop", durable, small_graph_max_edges=None
    )
    assert calls["private_session"] == 1 and calls["rebind"] == 2
