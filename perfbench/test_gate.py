"""Self-test of the benchmark's oracle gate (no Spark needed).

    python3 perfbench/test_gate.py        # or: python3 -m pytest perfbench/test_gate.py

The engine's output is stood in for by the oracle's own result relabelled
the way the engine labels clusters (min doc id) and shuffled; the gate
must accept that and reject every deliberate corruption of it.
"""

from __future__ import annotations

import os
import sys
import tempfile

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gate  # noqa: E402
from sparkdedup.config import DedupConfig  # noqa: E402
from sparkdedup.io.webtext import generate_webtext  # noqa: E402
from tests.oracle import cluster_ref  # noqa: E402

CFG = DedupConfig()


def _corpus() -> list[str]:
    return list(generate_webtext(120, seed=5)["text"])


def _engine_like(texts):
    """Oracle result in engine form: min-id labels, shuffled rows."""
    assign, edges, _ = cluster_ref(texts)
    rng = np.random.default_rng(0)
    e = pd.DataFrame(sorted(edges), columns=["src", "dst", "sim"])
    e = e.iloc[rng.permutation(len(e))].reset_index(drop=True)
    a = pd.DataFrame({"doc_id": list(assign), "cluster_id": list(assign.values())})
    a["cluster_id"] = a.groupby("cluster_id")["doc_id"].transform("min")
    a = a.iloc[rng.permutation(len(a))].reset_index(drop=True)
    return e, a


def test_gate_accepts_relabelled_and_rejects_corruptions():
    texts = _corpus()
    want = gate.oracle_digests(texts, CFG)
    edges, assign = _engine_like(texts)
    assert want["n_edges"] > 10 and want["n_clusters"] < len(texts)
    assert gate.compare(gate.digests(edges, assign, CFG.num_perm), want) == []

    def check(e, a):
        return gate.compare(gate.digests(e, a, CFG.num_perm), want)

    # an edge missing
    assert "edges" in check(edges.iloc[1:], assign)
    # one similarity off by one signature position
    e = edges.copy()
    e.loc[0, "sim"] += 1.0 / CFG.num_perm
    assert check(e, assign) == ["edges"]
    # one doc moved out of its cluster into a singleton
    multi = assign[assign["doc_id"] != assign["cluster_id"]].index[0]
    a = assign.copy()
    a.loc[multi, "cluster_id"] = a.loc[multi, "doc_id"]
    assert "partition" in check(edges, a)
    # two clusters merged under one label: same number of docs, fewer clusters
    a = assign.copy()
    labels = sorted(a["cluster_id"].unique())
    a.loc[a["cluster_id"] == labels[1], "cluster_id"] = labels[0]
    assert {"partition", "n_clusters"} <= set(check(edges, a))
    # a doc dropped from the output
    assert "n_docs" in check(edges, assign.iloc[1:])


def test_partition_digest_is_label_free():
    ids = [3, 0, 2, 1, 4]
    assert gate.partition_digest(ids, [7, 9, 7, 9, 5]) == gate.partition_digest(
        ids, [1, 0, 1, 0, 2]
    )
    assert gate.partition_digest(ids, [7, 9, 7, 9, 5]) != gate.partition_digest(
        ids, [7, 9, 7, 7, 5]
    )


def test_oracle_cache_round_trip():
    texts = _corpus()[:40]
    with tempfile.TemporaryDirectory() as d:
        first = gate.cached_oracle(texts, CFG, d)
        assert len(os.listdir(d)) == 1
        assert gate.cached_oracle(texts, CFG, d) == first
        gate.cached_oracle(texts[:-1], CFG, d)
        assert len(os.listdir(d)) == 2


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
