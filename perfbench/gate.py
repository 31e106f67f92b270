"""Oracle gate: compare engine output with the pure-Python reference.

The reference is ``tests/oracle.py::cluster_ref``.  It is slow (pure
Python, one numpy update per shingle), so it runs once per distinct
corpus, outside every timed region, and its result is cached under
``perfbench/.cache`` as two digests:

* the edge set: sorted ``(src, dst, matches)`` rows, where ``matches`` is
  the number of equal signature positions (``sim * num_perm``, an exact
  integer in both implementations);
* the partition: each doc labelled with the minimum doc id of its
  cluster.  The engine labels clusters by min doc id and the oracle by
  dense first-seen ids, so both are canonicalized before hashing and the
  comparison is label-free.

Doc ids are the corpus row positions, which is also how the oracle
numbers documents.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np


def edge_digest(src, dst, sim, num_perm: int) -> str:
    """Order-free digest of an edge set (src < dst per row)."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    matches = np.rint(np.asarray(sim, dtype=np.float64) * num_perm).astype(np.int64)
    rows = np.stack([src, dst, matches], axis=1) if len(src) else np.empty((0, 3), np.int64)
    rows = rows[np.lexsort((rows[:, 2], rows[:, 1], rows[:, 0]))]
    return hashlib.sha256(np.ascontiguousarray(rows).tobytes()).hexdigest()


def min_id_labels(doc_id, cluster_id) -> np.ndarray:
    """Relabel every doc with the min doc id of its cluster, ordered by
    doc id: the canonical form of a partition, independent of labels."""
    doc_id = np.asarray(doc_id, dtype=np.int64)
    cluster_id = np.asarray(cluster_id, dtype=np.int64)
    order = np.argsort(doc_id, kind="stable")
    doc_id, cluster_id = doc_id[order], cluster_id[order]
    _, group = np.unique(cluster_id, return_inverse=True)
    mins = np.full(group.max() + 1 if len(group) else 0, np.iinfo(np.int64).max)
    np.minimum.at(mins, group, doc_id)
    return np.stack([doc_id, mins[group]], axis=1)


def partition_digest(doc_id, cluster_id) -> str:
    return hashlib.sha256(
        np.ascontiguousarray(min_id_labels(doc_id, cluster_id)).tobytes()
    ).hexdigest()


def digests(edges, assignments, num_perm: int) -> dict:
    """Digests of engine output: pandas frames edges(src, dst, sim) and
    assignments(doc_id, cluster_id)."""
    return {
        "edges": edge_digest(edges["src"], edges["dst"], edges["sim"], num_perm),
        "partition": partition_digest(assignments["doc_id"], assignments["cluster_id"]),
        "n_edges": int(len(edges)),
        "n_clusters": int(assignments["cluster_id"].nunique()),
        "n_docs": int(len(assignments)),
    }


def oracle_digests(texts: list[str], cfg) -> dict:
    """Run the reference on ``texts`` (doc id = position) and digest it."""
    from tests.oracle import cluster_ref

    assign, edges, _certainty = cluster_ref(
        texts,
        threshold=cfg.threshold,
        shingle_size=cfg.shingle_size,
        num_perm=cfg.num_perm,
        seed=cfg.seed,
        preprocess_options=cfg.preprocess_options(),
    )
    e = sorted(edges)
    ids = sorted(assign)
    return {
        "edges": edge_digest(
            [x[0] for x in e], [x[1] for x in e], [x[2] for x in e], cfg.num_perm
        ),
        "partition": partition_digest(ids, [assign[i] for i in ids]),
        "n_edges": len(e),
        "n_clusters": len(set(assign.values())),
        "n_docs": len(ids),
    }


def cached_oracle(texts: list[str], cfg, cache_dir: str) -> dict:
    """oracle_digests, cached by (corpus content, config, oracle source)."""
    from dataclasses import asdict

    import tests.oracle

    h = hashlib.sha256()
    for t in texts:
        h.update(t.encode("utf-8", "surrogatepass"))
        h.update(b"\0")
    h.update(json.dumps(asdict(cfg), sort_keys=True).encode())
    with open(tests.oracle.__file__, "rb") as f:
        h.update(f.read())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    out = oracle_digests(texts, cfg)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def compare(got: dict, want: dict) -> list[str]:
    """Names of the fields where engine digests differ from the oracle's
    (empty list = pass)."""
    return [k for k in ("edges", "partition", "n_edges", "n_clusters", "n_docs")
            if got[k] != want[k]]
