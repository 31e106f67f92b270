"""The fused pair-generation + verify path (round-6 optimization) must be
bit-identical to the staged candidate_pairs -> verify_pairs path, for both
cold and salted (hot-band) bucket shapes, and the pipeline must route to
it exactly when the gate conditions hold."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from sparkdedup.config import DedupConfig
from sparkdedup.operators.bands import explode_bands
from sparkdedup.operators.pairs import candidate_pairs, salted_members
from sparkdedup.operators.verify import (
    _fused_kernel,
    _verify_kernel,
    verify_members,
    verify_pairs,
)
from sparkdedup.pipeline import DedupPipeline


def _corpus(spark, n=120, dup_every=3):
    rows = []
    for i in range(n):
        if i % dup_every == 0:
            text = f"the quick brown fox jumps over the lazy dog variant {i % 7}"
        else:
            text = f"document number {i} with its own distinct words {i * 37}"
        rows.append((i, text))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))


def _edges_sorted(df):
    return [
        (r.src, r.dst, round(r.sim, 9))
        for r in df.select("src", "dst", "sim").orderBy("src", "dst").collect()
    ]


@pytest.mark.parametrize("salt", [2, 512])
def test_fused_equals_staged(spark, salt):
    """verify_members(salted_members(bands)) == verify_pairs(candidate_pairs(bands))
    with salting forced on (salt=2 splits every band >= 3 members into
    cells, exercising mixed cell-pair buckets) and effectively off."""
    cfg = DedupConfig(threshold=0.3, shingle_size=6)
    pipe = DedupPipeline(spark, cfg)
    docs = _corpus(spark)
    clean = pipe.normalize(docs, "text", "doc_id").localCheckpoint(eager=True)
    sigs = pipe.signatures(clean).localCheckpoint(eager=True)
    b, r = cfg.bands_rows()
    bands = explode_bands(sigs, b, r)

    staged = verify_pairs(
        candidate_pairs(bands, salt_threshold=salt), sigs, 0.3, 64
    )
    fused = verify_members(salted_members(bands, salt), sigs, 0.3, 64)
    se, fe = _edges_sorted(staged), _edges_sorted(fused)
    assert len(se) > 0
    assert se == fe


def test_pipeline_routes_to_fused_and_matches_staged(spark):
    """run() under the default config (broadcast strategy) must produce
    exactly the same edges + assignments as run() with broadcasting
    disabled (the staged shuffle-hash path)."""
    docs = _corpus(spark)
    out_fused = DedupPipeline(spark, DedupConfig(threshold=0.3, shingle_size=6)).run(docs)
    out_staged = DedupPipeline(
        spark,
        DedupConfig(threshold=0.3, shingle_size=6, verify_broadcast_max_bytes=None),
    ).run(docs)
    assert _edges_sorted(out_fused["edges"]) == _edges_sorted(out_staged["edges"])
    a1 = [
        (r.doc_id, r.cluster_id, round(r.certainty, 9))
        for r in out_fused["assignments"].orderBy("doc_id").collect()
    ]
    a2 = [
        (r.doc_id, r.cluster_id, round(r.certainty, 9))
        for r in out_staged["assignments"].orderBy("doc_id").collect()
    ]
    assert a1 == a2


def test_fused_gate_respects_pair_consumers(spark):
    """Configs that consume the materialized pair table (substring stage,
    candidate cap, simhash pre-filter, no-salting) must keep the staged
    path — asserted via the checkpointed stage list containing 05_pairs."""
    import os
    import tempfile

    docs = _corpus(spark, n=40)
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "ck")
        pipe = DedupPipeline(
            spark,
            DedupConfig(threshold=0.3, shingle_size=6, max_candidates=500),
            checkpoint_dir=root,
        )
        pipe.run(docs)
        assert "05_pairs" in pipe.ckpt.list_stages()
    with tempfile.TemporaryDirectory() as d:
        root = os.path.join(d, "ck")
        pipe = DedupPipeline(
            spark, DedupConfig(threshold=0.3, shingle_size=6), checkpoint_dir=root
        )
        pipe.run(docs)
        stages = pipe.ckpt.list_stages()
        assert "06_edges" in stages and "05_pairs" not in stages


def _kernel_inputs():
    """Broadcast value (sorted ids, signature matrix) for ids 10, 20, 30,
    40: docs 10/20 share every position, 30 shares half with them, 40
    shares nothing."""
    ids = np.array([10, 20, 30, 40], dtype=np.int64)
    mat = np.array(
        [[1, 2, 3, 4], [1, 2, 3, 4], [1, 2, 9, 9], [5, 6, 7, 8]], dtype=np.uint32
    )
    return SimpleNamespace(value=(ids, mat))


def _pair_batch(pairs):
    src, dst = zip(*pairs)
    return pa.RecordBatch.from_arrays(
        [pa.array(src, pa.int64()), pa.array(dst, pa.int64())], ["src", "dst"]
    )


def _bucket_batch(buckets):
    """[(ci, cj, [(d, c), ...]), ...] -> a salted_members Arrow batch."""
    ci, cj, ms = zip(*buckets)
    member = pa.struct([("d", pa.int64()), ("c", pa.int32())])
    return pa.RecordBatch.from_arrays(
        [
            pa.array(ci, pa.int32()),
            pa.array(cj, pa.int32()),
            pa.array(
                [[{"d": d, "c": c} for d, c in m] for m in ms], pa.list_(member)
            ),
        ],
        ["ci", "cj", "ms"],
    )


def _emitted(gen, batch):
    return sorted(
        (s, d, sim)
        for out in gen(iter([batch]))
        for s, d, sim in zip(*(out.column(i).to_pylist() for i in range(3)))
    )


def test_verify_kernels_reject_id_above_every_signature():
    """An id greater than every broadcast id searches to len(ids): both
    kernels must raise their ValueError, not an IndexError."""
    bc = _kernel_inputs()
    pair_gen = _verify_kernel(bc, 0.3, 4)
    with pytest.raises(ValueError, match="absent from the signature table"):
        _emitted(pair_gen, _pair_batch([(10, 20), (10, 99)]))
    fused_gen = _fused_kernel(bc, 0.3, 4)
    with pytest.raises(ValueError, match="absent from the signature table"):
        _emitted(fused_gen, _bucket_batch([(0, 0, [(10, 0), (99, 0)])]))


def test_verify_kernels_read_sliced_batches():
    """A batch whose list column starts at a non-zero offset (a slice)
    must verify exactly the members it holds."""
    bc = _kernel_inputs()
    pairs = [(10, 40), (10, 20), (20, 30), (30, 40)]
    pair_gen = _verify_kernel(bc, 0.3, 4)
    assert _emitted(pair_gen, _pair_batch(pairs).slice(1, 2)) == _emitted(
        pair_gen, _pair_batch(pairs[1:3])
    )
    buckets = [
        (0, 0, [(30, 0), (40, 0)]),
        (0, 0, [(10, 0), (20, 0), (30, 0)]),
        (0, 1, [(10, 0), (20, 1), (40, 1)]),
    ]
    fused_gen = _fused_kernel(bc, 0.3, 4)
    got = _emitted(fused_gen, _bucket_batch(buckets).slice(1, 2))
    assert got == _emitted(fused_gen, _bucket_batch(buckets[1:]))
    assert got == [(10, 20, 1.0), (10, 20, 1.0), (10, 30, 0.5), (20, 30, 0.5)]


def test_broadcast_verify_rejects_duplicate_doc_ids(spark):
    """A signature table with a repeated doc_id would make the broadcast
    lookup keep one copy where the shuffle-hash join keeps every copy;
    the broadcast strategy must refuse it."""
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [1, 2, 3, 4]), (2, [1, 2, 9, 9])],
        "doc_id long, sig array<long>",
    )
    pairs = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="duplicate doc_ids"):
        verify_pairs(pairs, sigs, 0.3, 4, strategy="broadcast")
