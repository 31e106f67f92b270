"""The end-to-end dedup pipeline (SURVEY.md §7 stage DAG).

    ingest -> normalize -> [exact-dup pre-pass] -> signatures -> bands ->
    pairs -> verify -> connected components -> relabel -> certainty

Each stage is a pure DataFrame -> DataFrame function; with a
CheckpointManager every stage materializes to a checkpoint table and a
re-run resumes from the last committed stage (north_rule resumability).

Parity contract: with ``exact_dedup_prepass=False`` the emitted edge set
and cluster assignments are identical to the reference algorithm's
uncapped run at the same (threshold, shingle_size, num_perm=64, seed=42)
config — verified against tests/oracle.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdedup.checkpoint import CheckpointManager
from sparkdedup.config import DedupConfig
from sparkdedup.functions.preprocess import preprocess_udf
from sparkdedup.functions.signatures import attach_signatures
from sparkdedup.operators.bands import explode_bands
from sparkdedup.operators.certainty import with_certainty
from sparkdedup.operators.connected_components import (
    assignments_from_components,
    connected_components,
)
from sparkdedup.operators.pairs import (
    candidate_pairs,
    dropped_band_stats,
    salted_members,
)
from sparkdedup.operators.verify import verify_pairs


def _input_content_signal(docs: DataFrame) -> list | int:
    """Cheap input-identity signal for the checkpoint manifest (no Spark
    job).  File sources: sorted (path, size, mtime) triples — local stat
    where possible, path-only for remote filesystems (hdfs://, s3://...)
    where the snapshot identity is the path list.  In-memory inputs (no
    inputFiles): the canonicalized logical-plan semantic hash, which folds
    in LocalRelation data."""
    files = sorted(docs.inputFiles())
    if not files:
        return docs.semanticHash()
    out = []
    for f in files:
        local = f[7:] if f.startswith("file://") else f
        try:
            st = os.stat(local)
            # nanosecond mtime: second-granularity would let an in-place
            # same-size rewrite within one second slip past the manifest
            out.append([f, st.st_size, st.st_mtime_ns])
        except OSError:
            out.append([f, None, None])
    return out


class DedupPipeline:
    def __init__(
        self,
        spark: SparkSession,
        config: DedupConfig | None = None,
        checkpoint_dir: str | None = None,
        dense_labels: bool = False,
        checkpoint_format: str = "parquet",
        checkpoint_table_prefix: str | None = None,
    ):
        """dense_labels=True reproduces the reference's dense first-seen
        cluster ids (union_find.py:25-33) via a global rank — needed only
        for parity tests.  The default (False) labels each cluster with
        its min doc_id: deterministic, rank-free, and safe at 10^12 docs
        where the dense rank's single-partition sort of one row per
        cluster would be a scale hazard."""
        self.spark = spark
        self.config = config or DedupConfig()
        self.ckpt = CheckpointManager(
            spark, checkpoint_dir, fmt=checkpoint_format,
            table_prefix=checkpoint_table_prefix,
        )
        self.dense_labels = dense_labels

    # --- individual stages (public, composable) ---

    def normalize(self, docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
        """P1 projection + null filter + S1 preprocess."""
        udf = preprocess_udf(self.config.preprocess_options())
        projected = docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        ).where(F.col("text").isNotNull())
        # ALWAYS spread the scan across all cores before the Python
        # stages: a single-row-group parquet file scans as ONE effective
        # partition no matter what getNumPartitions claims (the DataFrame
        # .rdd partition count is a plan artifact, not the scan split) —
        # skipping this serialized the whole UDF chain onto one worker
        n_parts = self.spark.sparkContext.defaultParallelism
        projected = projected.repartition(n_parts)
        return projected.withColumn("clean", udf(F.col("text").cast("string")))

    def signatures(self, clean: DataFrame) -> DataFrame:
        c = self.config
        # spread=False: normalize() already round-robined the text across
        # all cores; a second repartition here would re-shuffle the full
        # corpus for nothing (at 100 TB that is a real shuffle)
        return attach_signatures(
            clean, c.shingle_size, c.num_perm, c.seed,
            id_col="doc_id", text_col="clean", spread=False,
            with_simhash=c.simhash_hamming_max is not None,
        )

    def _bands(self, sigs: DataFrame) -> DataFrame:
        """LSH band rows (band_key, doc_id) for both pair routes; with the
        drop knob set, records what it removes (no silent caps)."""
        c = self.config
        bands = explode_bands(sigs, *c.bands_rows())
        if c.band_drop_threshold is not None:
            self.last_drop_stats = dropped_band_stats(bands, c.band_drop_threshold)
            self.ckpt.log_event({"event": "dropped_bands", **self.last_drop_stats})
        return bands

    def pairs(self, sigs: DataFrame) -> DataFrame:
        """LSH candidate pairs (src, dst), optionally pre-filtered by the
        complementary SimHash pass (north_star): Hamming distance over the
        fused 64-bit simhash column, joined narrow (8 bytes/doc vs the
        num_perm*8-byte signature) so the expensive full-signature verify
        join only sees pairs that survive the cheap bit filter."""
        c = self.config
        pairs = candidate_pairs(
            self._bands(sigs),
            salt_threshold=c.band_salt_threshold,
            drop_threshold=c.band_drop_threshold,
        )
        if c.max_candidates is not None:
            # T7 cap applies to the LSH candidate list BEFORE any verify
            # work, like the reference's in-loop break (cluster_in_mem
            # .py:186-187 caps candidates, then jaccard-checks survivors)
            from sparkdedup.operators.pairs import cap_pairs_per_doc

            pairs = cap_pairs_per_doc(pairs, c.max_candidates)
        if c.simhash_hamming_max is not None:
            sh1 = sigs.select(F.col("doc_id").alias("src"), F.col("simhash").alias("_sh_src"))
            sh2 = sigs.select(F.col("doc_id").alias("dst"), F.col("simhash").alias("_sh_dst"))
            pairs = (
                pairs.join(sh1.hint("shuffle_hash"), "src")
                .join(sh2.hint("shuffle_hash"), "dst")
                .where(
                    F.bit_count(F.col("_sh_src").bitwiseXOR(F.col("_sh_dst")))
                    <= F.lit(c.simhash_hamming_max)
                )
                .select("src", "dst")
            )
        return pairs

    def edges(self, sigs: DataFrame) -> DataFrame:
        c = self.config
        return verify_pairs(self.pairs(sigs), sigs, c.threshold, c.num_perm)

    def _fused_edges(self, sigs: DataFrame) -> DataFrame:
        """Broadcast-strategy short-cut: bands -> salted buckets -> fused
        pair-expansion + Jaccard verify (operators.verify.verify_members),
        skipping the materialized candidate-pair stage.  Bit-identical to
        the staged path; see _run for the gate."""
        from sparkdedup.operators.verify import verify_members

        c = self.config
        members = salted_members(
            self._bands(sigs), c.band_salt_threshold, c.band_drop_threshold
        )
        return verify_members(members, sigs, c.threshold, c.num_perm)

    def verify_strategy(self, sigs: DataFrame) -> str:
        """Pick the verify-join strategy from the MEASURED corpus size
        (guide §3.1).  Only call on a materialized ``sigs`` (checkpoint
        table or localCheckpoint): the count is then a block/footer scan,
        not a pipeline recompute."""
        c = self.config
        if c.verify_broadcast_max_bytes is None:
            return "shuffle_hash"
        est = sigs.count() * (c.num_perm * 8 + 16)
        return "broadcast" if est <= c.verify_broadcast_max_bytes else "shuffle_hash"

    def cluster(self, docs_ids: DataFrame, edges: DataFrame) -> DataFrame:
        # CC gates on the raw edge count in both modes; with a checkpoint
        # dir its output is durable: at or below the gate the numpy kernel
        # commits one cc_components stage, above it each star-loop round
        # (on a private session) is a cc_round_NNN table, so a killed job
        # resumes from what was committed (VERDICT r03 item 4)
        prefix = "cc"
        if self.ckpt.root is not None and self.ckpt.manifest is None:
            # Direct cluster() call (outside run(), so no manifest is in
            # play): CC tables staged under a bare "cc" prefix would be
            # trusted by a LATER direct call against the same dir even if
            # its edges differ — a silent wrong-components reload.  Fold
            # the edge set's identity (canonicalized-plan semantic hash,
            # which includes LocalRelation data) into the prefix: same
            # edges resume their own tables, different edges get disjoint
            # tables.
            prefix = f"cc_{edges.semanticHash() & 0xFFFFFFFF:08x}"
        star = connected_components(edges, ckpt=self.ckpt, stage_prefix=prefix)
        return assignments_from_components(docs_ids, star, dense=self.dense_labels)

    # --- end-to-end ---

    def run(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> dict[str, DataFrame]:
        """Returns {'clean', 'signatures', 'edges', 'assignments'} (plus
        'substring_edges' when config.substring_min_span is set) —
        assignments has (doc_id, cluster_id, certainty).

        Executes on a PRIVATE session clone (VERDICT r04 item 4) with
        spark.sql.constraintPropagation.enabled=false (PERF only — see
        build_spark): the eager stage cuts inside run() are where the
        huge unrolled plans get optimized, so a vanilla session gets the
        fast path without ANY mutation of the caller's session — a
        concurrent query on self.spark mid-run sees its confs untouched.
        Inputs are handed to the clone (and outputs handed back) via
        sessionutil.rebind, so callers receive DataFrames bound to their
        own session.  Results are identical either way — and the plans
        are CORRECT with the conf on: tests/test_vanilla_session.py
        composes the stage methods directly (outside run(), so nothing
        overrides the conf) and optimizes every plan shape, including the
        dup-edges union, with constraint propagation forced ON."""
        import copy

        from sparkdedup.sessionutil import private_session, rebind

        exec_spark = private_session(self.spark)
        exec_spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
        # shallow execution clone: same config/ckpt identity (run_id,
        # manifests, lineage log), session swapped for the private one
        p = copy.copy(self)
        p.spark = exec_spark
        p.ckpt = copy.copy(self.ckpt)
        p.ckpt.spark = exec_spark
        out = p._run(rebind(docs, exec_spark), text_col, id_col)
        if hasattr(p, "last_drop_stats"):
            self.last_drop_stats = p.last_drop_stats
        return {k: rebind(v, self.spark) for k, v in out.items()}

    def _run(
        self, docs: DataFrame, text_col: str, id_col: str
    ) -> dict[str, DataFrame]:
        c = self.config
        # Stamp every checkpointed stage with (config, input identity) so a
        # resume against the same dir with a DIFFERENT config or input
        # recomputes instead of silently reloading stale tables.
        from dataclasses import asdict

        self.ckpt.set_manifest(
            {
                "config": asdict(c),
                "text_col": text_col,
                "id_col": id_col,
                "dense_labels": self.dense_labels,
                "input_schema": docs.schema.simpleString(),
                "input_files": sorted(docs.inputFiles()),
                # content signal beyond file NAMES: per-file size+mtime for
                # file sources (catches in-place rewrites), and the
                # canonicalized-plan semantic hash for in-memory inputs
                # (createDataFrame test corpora have no inputFiles at all —
                # without this, two different in-memory inputs under the
                # same config would share a fingerprint and a resume could
                # silently reload the other run's stages).  Neither signal
                # triggers a Spark job.
                "input_signal": _input_content_signal(docs),
            }
        )
        # cache=True: clean feeds the signature kernel, the doc-id universe
        # and (optionally) the exact-dup pre-pass — the scan + preprocess
        # UDF must run once, not once per consumer
        clean = self.ckpt.stage(
            "01_normalize", lambda: self.normalize(docs, text_col, id_col), cache=True
        )

        if c.exact_dedup_prepass:
            def _exact_groups() -> DataFrame:
                hashed = clean.select("doc_id", F.md5("clean").alias("_h"))
                reps_by_hash = hashed.groupBy("_h").agg(F.min("doc_id").alias("rep"))
                # min-agg + join-back, never collect_list: an exact-dup
                # group of millions of boilerplate copies must not
                # materialize as one array row — that row OOMs a task
                # exactly when the pre-pass matters most (web scale)
                return hashed.join(reps_by_hash, "_h").select("rep", "doc_id")

            # cache=True: groups feeds both the reps filter and dup_edges
            groups = self.ckpt.stage("02_exact_groups", _exact_groups, cache=True)
            reps = clean.join(
                groups.where(F.col("doc_id") == F.col("rep")).select("doc_id"),
                "doc_id",
            )
        else:
            groups = None
            reps = clean

        # cut=True: signatures are read three times (band explode + both
        # verify join sides) AND everything python-expensive sits above
        # them — the eager cut keeps every downstream AQE materialization
        # re-analyzing a leaf, not the scan->UDF tree
        sigs = self.ckpt.stage("03_signatures", lambda: self.signatures(reps), cut=True)

        # join strategy decided from the measured doc count (sigs is
        # materialized above, so the count is a cheap block/footer scan)
        strategy = self.verify_strategy(sigs)
        # Fused pair-generation + verify (operators.verify.verify_members):
        # under the broadcast strategy, candidate pairs never materialize —
        # they exist only as transient index pairs inside the Arrow kernel,
        # and only threshold survivors reach a shuffle (measured 28-60 s ->
        # ~9 s at sf1.0 for the two stages).  The staged path remains for
        # every config that CONSUMES the pair table (substring stage,
        # candidate caps, simhash pre-filter) and for the above-broadcast-cap
        # scale regime.
        fused = (
            strategy == "broadcast"
            and c.substring_min_span is None
            and c.max_candidates is None
            and c.simhash_hamming_max is None
        )
        if fused:
            pairs = None
            edges = self.ckpt.stage("06_edges", lambda: self._fused_edges(sigs))
        else:
            # pairs materialized at a plan cut: the window + explode +
            # salted subtree otherwise re-enters every AQE replan of the
            # verify plan (measured ~70 s of driver/duplicated-stage
            # overhead at 50k docs when fully fused into one plan)
            pairs = self.ckpt.stage("05_pairs", lambda: self.pairs(sigs), cut=True)
            edges = self.ckpt.stage(
                "06_edges",
                lambda: verify_pairs(
                    pairs, sigs, c.threshold, c.num_perm, strategy=strategy
                ),
            )

        if c.substring_min_span is not None:
            # substring stage consumes the SAME candidate pairs the verify
            # does (SURVEY §7 stage 7: pairwise over the LSH-pruned set,
            # never corpus-global)
            from sparkdedup.operators.substring import substring_edges as _sub_edges

            substring = self.ckpt.stage(
                "07_substring",
                lambda: _sub_edges(pairs, clean, min_span=c.substring_min_span),
            )
        else:
            substring = None

        if groups is not None:
            # expand rep-level edges back to all members; dup->rep edges at sim 1.0
            dup_edges = (
                groups.where(F.col("doc_id") != F.col("rep"))
                .select(F.col("rep").alias("src"), F.col("doc_id").alias("dst"))
                .withColumn("sim", F.lit(1.0))
            )
            all_edges = edges.unionByName(dup_edges)
        else:
            all_edges = edges
        # ONE eager lineage cut at the edges boundary (when not already cut
        # by a checkpoint-table write): the full scan->preprocess->minhash->
        # bands->pairs->verify tree executes exactly once here, and every
        # downstream plan (CC rounds, assignments, certainty) analyzes a
        # small leaf instead of re-walking the ~10^3-node pipeline tree on
        # each AQE replan — measured as tens of seconds of pure driver time
        # at test scale.
        if self.ckpt.root is None:
            all_edges = all_edges.localCheckpoint(eager=True)

        doc_ids = clean.select("doc_id")
        assignments = self.ckpt.stage(
            # cut=True: with_certainty consumes assignments in TWO join
            # branches (per-doc avg-sim attach and the cluster-size
            # groupBy), and Spark does not dedupe common subtrees across
            # branches — uncut, the CC result and the label join executed
            # twice per downstream action (round 6)
            "08_assignments", lambda: self.cluster(doc_ids, all_edges), cut=True
        )
        final = self.ckpt.stage(
            "09_final", lambda: with_certainty(assignments, all_edges)
        )
        out = {
            "clean": clean,
            "signatures": sigs,
            "edges": all_edges,
            "assignments": final,
        }
        if substring is not None:
            # additive output table (src, dst, lcs_len, lcs_frac): long
            # exact shared spans among LSH candidates.  NOT merged into the
            # cluster graph — assignments keep reference parity; consumers
            # decide what a containment edge means for their dedup policy.
            out["substring_edges"] = substring
        return out


def build_spark(
    app: str = "sparkdedup",
    master: str | None = None,
    shuffle_partitions: int = 32,
    driver_mem: str = "48g",
) -> SparkSession:
    """Session tuned for the sandbox; on a real cluster these come from
    spark-submit conf.  In local mode the driver JVM IS the executor and
    holds every localCheckpoint block — size the heap for the data, not
    for a driver."""
    b = (
        SparkSession.builder.appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # PERF (not correctness): constraint propagation re-derives
        # constraints over our deliberately huge unrolled expression trees
        # (21 banded xxhash64 keys, 64-term jaccard) on every AQE replan —
        # measured 2-6x driver-time blowup on the flagship/simhash queries
        # with it on.  The inferred IsNotNull filters are worthless here
        # (all join keys non-null by construction).  The library is
        # CORRECT on vanilla sessions (tests/test_vanilla_session.py — the
        # union-free candidate_pairs avoids the Spark
        # UnionBase.rewriteConstraints crash this conf used to paper over);
        # this is purely the recommended tuning.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
    )
    if master:
        b = b.master(master)
    return b.getOrCreate()
