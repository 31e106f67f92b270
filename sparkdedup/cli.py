"""spark-submit entry point (north_rule: "packaged for spark-submit
--py-files").

Usage:
    zip -r sparkdedup.zip sparkdedup
    spark-submit --py-files sparkdedup.zip -m sparkdedup.cli \\
        --input /data/webpages --output /data/dedup_out \\
        --checkpoint /data/dedup_ckpt --threshold 0.3 --shingle-size 6 \\
        --text-col text --id-col url-hash

On a cluster, executors/memory/AQE come from spark-submit conf; the job
only sets what it owns (shuffle partitions default to cluster
parallelism).  Writes three tables under --output: assignments/, edges/,
and (from --checkpoint) the per-stage lineage metrics.
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sparkdedup.config import PREPROCESS_FULL, PREPROCESS_NONE, DedupConfig
from sparkdedup.pipeline import DedupPipeline


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="sparkdedup: near-duplicate detection")
    p.add_argument("--input", required=True, help="parquet path or table of documents")
    p.add_argument("--input-format", default="parquet",
                   choices=["parquet", "csv", "json", "table"],
                   help="'table' reads a catalog table (the Iceberg path on a "
                        "real cluster); file formats read --input as a path")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--checkpoint", default=None, help="stage checkpoint dir (resumable)")
    p.add_argument("--checkpoint-format", default="parquet",
                   help="checkpoint table format (parquet/orc/json, or 'iceberg' "
                        "with --checkpoint-table-prefix on a cluster with an Iceberg catalog)")
    p.add_argument("--checkpoint-table-prefix", default=None,
                   help="catalog.namespace for iceberg checkpoint tables")
    p.add_argument("--text-col", default=None,
                   help="text column (default: 'text' for parquet; auto-detected "
                        "for csv/json/table via read_corpus)")
    p.add_argument("--id-col", default=None,
                   help="long id column (default: 'doc_id' for parquet; "
                        "auto-detected for csv/json/table); use --id-from-url to derive")
    p.add_argument("--id-from-url", action="store_true",
                   help="derive doc_id = xxhash64(url) (web-scale id assignment)")
    p.add_argument("--threshold", type=float, default=0.3)
    p.add_argument("--shingle-size", type=int, default=6)
    p.add_argument("--num-perm", type=int, default=64)
    p.add_argument("--preprocess", choices=["none", "full"], default="none")
    p.add_argument("--exact-prepass", action="store_true")
    p.add_argument("--dense-labels", action="store_true",
                   help="reference-parity dense cluster ids (needs a global rank; "
                        "default = stable min-doc-id labels, the web-scale choice)")
    p.add_argument("--salt-threshold", type=int, default=512)
    p.add_argument("--drop-threshold", type=int, default=None,
                   help="drop (and log) band buckets larger than this — the only "
                        "recall-losing knob, OFF by default")
    p.add_argument("--simhash-hamming-max", type=int, default=None,
                   help="enable the complementary SimHash pass: pre-filter candidate "
                        "pairs at Hamming distance <= this before the Jaccard verify")
    p.add_argument("--substring-min-span", type=int, default=None,
                   help="enable the exact-substring stage: emit substring_edges for "
                        "LSH candidate pairs sharing an exact span >= this many chars")
    p.add_argument("--stream", action="store_true",
                   help="treat --input as a Structured Streaming file source: drain "
                        "all available files (availableNow trigger), folding each "
                        "micro-batch through the O(delta) incremental engine; "
                        "requires --state-dir, reuses --checkpoint for the stream's "
                        "exactly-once progress log")
    p.add_argument("--state-dir", default=None,
                   help="incremental state tables dir (signatures/edges), "
                        "persisted across runs; required with --stream")
    p.add_argument("--max-files-per-trigger", type=int, default=None,
                   help="bound micro-batch size in --stream mode (files per trigger)")
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv)
    spark = SparkSession.builder.appName("sparkdedup").getOrCreate()

    if args.input_format == "parquet":
        try:
            docs = spark.read.parquet(args.input)
        except Exception as ex:  # empty/not-yet-populated stream input dir
            if args.stream:
                print(json.dumps({"mode": "stream", "batches": 0, "docs": 0,
                                  "note": f"no readable input yet: {type(ex).__name__}"}))
                spark.stop()
                return
            raise
        text_col = args.text_col or "text"
        id_col = args.id_col or "doc_id"
    else:
        from sparkdedup.io.sources import read_corpus

        # None lets read_corpus auto-detect (reference column-resolution
        # semantics); it normalizes into 'doc_id'/'text' columns
        docs = read_corpus(spark, args.input, fmt=args.input_format,
                           text_col=args.text_col, id_col=args.id_col)
        text_col = "text"
        id_col = "doc_id"
    if args.id_from_url:
        from sparkdedup.io.sources import check_id_collisions

        docs = docs.withColumn("doc_id", F.xxhash64("url"))
        check_id_collisions(docs)
        id_col = "doc_id"

    cfg = DedupConfig(
        threshold=args.threshold,
        shingle_size=args.shingle_size,
        num_perm=args.num_perm,
        preprocess=dict(PREPROCESS_FULL if args.preprocess == "full" else PREPROCESS_NONE),
        exact_dedup_prepass=args.exact_prepass,
        band_salt_threshold=args.salt_threshold,
        band_drop_threshold=args.drop_threshold,
        simhash_hamming_max=args.simhash_hamming_max,
        substring_min_span=args.substring_min_span,
    )
    if args.stream:
        if args.state_dir is None or args.checkpoint is None:
            raise SystemExit("--stream requires --state-dir and --checkpoint")
        if args.input_format != "parquet":
            raise SystemExit("--stream supports parquet file sources only")
        if args.id_from_url:
            raise SystemExit(
                "--id-from-url is not supported with --stream: derive doc_id "
                "upstream (the micro-batch source must carry a stable long id)"
            )
        from sparkdedup.incremental import IncrementalDedup
        from sparkdedup.streaming import stream_ingest

        inc = IncrementalDedup(spark, cfg, state_dir=args.state_dir)
        q = stream_ingest(
            spark, args.input, docs.schema, inc,
            checkpoint_dir=args.checkpoint,
            text_col=text_col, id_col=id_col,
            max_files_per_trigger=args.max_files_per_trigger,
            available_now=True,
        )
        q.awaitTermination()
        assignments = inc.assignments
        if assignments is None:
            print(json.dumps({"mode": "stream", "batches": 0, "docs": 0}))
            spark.stop()
            return
        # same output contract as batch mode (ADVICE r03): assignments
        # carry certainty (computed from the state edge table — every
        # verified edge is intra-cluster, same as the batch path), and
        # edges/ is written so consumers can switch modes freely
        edges = inc.edges
        if edges is None:
            edges = spark.createDataFrame([], "src long, dst long, sim double")
        from sparkdedup.operators.certainty import with_certainty

        assignments = with_certainty(assignments, edges)
        assignments.write.mode("overwrite").parquet(
            os.path.join(args.output, "assignments")
        )
        edges.write.mode("overwrite").parquet(os.path.join(args.output, "edges"))
        print(json.dumps({
            "mode": "stream",
            "batches": inc.n_batches,
            "docs": assignments.count(),
            "edges": edges.count(),
            "clusters": assignments.select("cluster_id").distinct().count(),
        }))
        spark.stop()
        return

    pipe = DedupPipeline(
        spark, cfg, checkpoint_dir=args.checkpoint, dense_labels=args.dense_labels,
        checkpoint_format=args.checkpoint_format,
        checkpoint_table_prefix=args.checkpoint_table_prefix,
    )
    out = pipe.run(docs, text_col=text_col, id_col=id_col)

    out["assignments"].write.mode("overwrite").parquet(os.path.join(args.output, "assignments"))
    out["edges"].write.mode("overwrite").parquet(os.path.join(args.output, "edges"))
    if "substring_edges" in out:
        out["substring_edges"].write.mode("overwrite").parquet(
            os.path.join(args.output, "substring_edges")
        )
    summary = {
        "docs": out["assignments"].count(),
        "edges": out["edges"].count(),
        "clusters": out["assignments"].select("cluster_id").distinct().count(),
        "config": {
            "threshold": cfg.threshold,
            "shingle_size": cfg.shingle_size,
            "num_perm": cfg.num_perm,
            "bands_rows": list(cfg.bands_rows()),
        },
    }
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
