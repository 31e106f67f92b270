"""Dedup benchmark: oracle-checked workloads through the public entry points.

    python3 perfbench/run.py --workload durable-longdocs --seed 1 --seconds 30 --trace 0

Run from the root of a checkout.  One process, closed loop: one unit of
work at a time on a ``local[<cores / 2>]`` session.  A unit is one
``DedupPipeline.run`` (memory or durable mode) or one ``IncrementalDedup``
ingest of the whole corpus in batches; it is timed from the entry-point
call to the collected assignments.  Every unit is checked against the
reference oracle (``gate.py``); a unit that raises or mismatches counts
as failed and is reported, never dropped.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced units and prints the per-layer metrics of the traced
ones (``spans.py``), the tracing overhead, and a per-layer table.  The
last stdout line is one JSON object: correct, attempted, failed, metrics.
Per-unit records (host health included) and the spans of traced units go
to ``perfbench/.out/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
CACHE = os.path.join(BENCH_DIR, ".cache")
OUT = os.path.join(BENCH_DIR, ".out")

# A run times a fixed number of units, round(--seconds / UNIT_S) and at
# least 3: unit time falls by up to a third over the first units after the
# warm-up (JIT compilation), so a count that followed the clock would move
# the median along that trend with host speed, and a faster program would
# be credited with a later point on it.  UNIT_S is a unit's time on a
# 4-core VM.
UNIT_S = 7.5
SHORT = {"n_rows": 800}  # generator defaults: 5-11 words, dup groups <= 500
LONG = {"n_rows": 300, "words_range": (60, 140), "vocab_size": 4000, "max_group_size": 50}

# mode: "memory" / "durable" run DedupPipeline.run; "incremental" ingests
# the corpus split by doc_id % batches.  Only the first two are listed in
# BENCHMARK.json: a run costs about a minute, 25 s of it set-up, and the
# run schedule has room for two such workloads.
# mem-dupheavy stays runnable for the memory-mode contrast, and
# incremental-4batch for the batch-cost growth (a 4-batch unit costs 19 s).
WORKLOADS = {
    "durable-longdocs": {"corpus": LONG, "mode": "durable"},
    "incremental-2batch": {"corpus": SHORT, "mode": "incremental", "batches": 2},
    "incremental-4batch": {"corpus": SHORT, "mode": "incremental", "batches": 4},
    "mem-dupheavy": {"corpus": SHORT, "mode": "memory"},
}


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable here and in the Spark Python workers."""
    parent = os.path.dirname(WORK)
    if os.path.isdir(parent):  # work directories of runs that were killed
        for d in os.listdir(parent):
            pid = d.removeprefix("run-")
            if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    for d in (WORK, CACHE, OUT):
        os.makedirs(d, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM that spark-submit starts first only builds the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join([
        os.environ.get("SPARK_LAUNCHER_OPTS", ""), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
    ])
    # system properties named spark.* are read into every SparkConf
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join([
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
        f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        "-Dspark.ui.showConsoleProgress=false",
    ])
    import tempfile

    tempfile.tempdir = tmp


# --- host probes ---------------------------------------------------------


def _python_pids(root_pid: int) -> list[int]:
    """The Python processes among ``root_pid`` and its live descendants
    (this process and the Spark Python workers), from one /proc walk.
    The JVM is left out: its RSS follows the heap-sizing policy and GC
    timing, not the work (2.2-3.4 GB between units doing identical
    work)."""
    ppid_of, python = {}, []
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                st = f.read()
        except OSError:
            continue
        comm, rest = st.split("(", 1)[1].rsplit(")", 1)
        ppid_of[int(pid_s)] = int(rest.split()[1])
        if comm.startswith("python"):
            python.append(int(pid_s))
    out = []
    for pid in python:
        p = pid
        for _ in range(64):
            if p == root_pid:
                out.append(pid)
                break
            p = ppid_of.get(p, 0)
            if p <= 1:
                break
    return out


def _reset_peak_rss(pids: list[int]) -> None:
    """Reset each process's peak RSS (VmHWM) to its current RSS."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # exited meanwhile
            pass


def _peak_rss_bytes(pids: list[int]) -> int:
    """Sum of the processes' peak RSS (VmHWM) since the last reset."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class HostProbe:
    """Wall, process-tree CPU, peak Python RSS and host-health fields over
    one unit.  Peak RSS is the sum of per-process peaks of the Python
    processes alive at the end of the unit; the Spark Python workers are
    reused across tasks, so they live through the unit."""

    def __enter__(self):
        from sparkdedup.hosthealth import box_cpu, tree_cpu

        _reset_peak_rss(_python_pids(os.getpid()))
        self.load = os.getloadavg()[0]
        self.box0, self.tree0 = box_cpu(), tree_cpu()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        from sparkdedup.hosthealth import box_cpu, tree_cpu

        self.wall = time.perf_counter() - self.t0
        (b0, s0, t0), (b1, s1, t1) = self.box0, box_cpu()
        cpu = tree_cpu() - self.tree0
        self.fields = {
            "wall_s": self.wall,
            "cpu_s": cpu,
            "peak_rss_mb": _peak_rss_bytes(_python_pids(os.getpid())) / 2**20,
            "steal_pct": 100.0 * (s1 - s0) / max(t1 - t0, 1e-9),
            "other_cores": max((b1 - b0) - cpu, 0.0) / max(self.wall, 1e-9),
            "loadavg_1m": self.load,
        }
        return False


# --- corpus --------------------------------------------------------------


def make_corpus(spec: dict, seed: int, batches: int) -> tuple[list[str], list[str]]:
    """Generate the corpus from the seed and write it as parquet (doc_id =
    row position, the oracle's numbering); one file per batch."""
    from sparkdedup.io.webtext import generate_webtext

    pdf = generate_webtext(seed=seed, **spec).reset_index()
    pdf = pdf.rename(columns={"index": "doc_id"})[["doc_id", "text"]]
    paths = []
    for b in range(batches):
        p = os.path.join(WORK, "corpus", f"batch-{b}.parquet")
        os.makedirs(os.path.dirname(p), exist_ok=True)
        pdf[pdf["doc_id"] % batches == b].to_parquet(p, index=False)
        paths.append(p)
    return list(pdf["text"]), paths


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


# --- one unit ------------------------------------------------------------


class Unit:
    """One unit of a workload; ``run`` is the timed part, ``edges`` and
    ``counts`` run afterwards."""

    def __init__(self, spark, workload: dict, inputs: list):
        self.spark, self.w, self.inputs = spark, workload, inputs
        self.state = None
        if workload["mode"] != "memory":
            self.state = os.path.join(WORK, f"state-{uuid.uuid4().hex[:8]}")
        self.batch_s: list[float] = []

    def run(self, tracer=None):
        """Entry-point call(s) through the collected assignments."""
        mode = self.w["mode"]
        if mode == "incremental":
            from sparkdedup.incremental import IncrementalDedup

            self.inc = IncrementalDedup(self.spark, state_dir=self.state)
            for i, batch in enumerate(self.inputs):
                t = time.perf_counter()
                assignments = self.inc.ingest_batch(batch, batch_id=i)
                self.batch_s.append(time.perf_counter() - t)
            self.assignments_df = assignments
        else:
            from sparkdedup.pipeline import DedupPipeline

            self.out = DedupPipeline(self.spark, checkpoint_dir=self.state).run(self.inputs[0])
            self.assignments_df = self.out["assignments"]
        df = self.assignments_df
        if tracer is None:
            self.assignments = df.toPandas()
        else:  # run() returns 09_final (certainty) lazily in memory mode
            layer = "incremental" if mode == "incremental" else "certainty"
            self.assignments = tracer.collect(df, layer)

    def signatures(self):
        return self.inc.signatures if self.w["mode"] == "incremental" else self.out["signatures"]

    def edges(self):
        if self.w["mode"] == "incremental":
            return self.inc.edges.select("src", "dst", "sim").toPandas()
        return self.out["edges"].select("src", "dst", "sim").toPandas()

    def counts(self, cfg, text_bytes: int) -> dict:
        """Work counts of the finished unit (outside the timed region)."""
        from pyspark.sql import functions as F

        from sparkdedup.operators.bands import explode_bands

        sigs = self.signatures()
        b, r = cfg.bands_rows()
        sizes = explode_bands(sigs, b, r).groupBy("band_key").count()
        n = F.col("count")
        row = sizes.agg(
            F.sum(n), F.max(n),
            F.sum((n > cfg.band_salt_threshold).cast("long")),
            F.sum(n * (n - 1) / 2),
        ).first()
        out = {
            "signatures.docs": sigs.count(),
            "bands.rows": row[0],
            "bands.max_bucket": row[1],
            "bands.salted": row[2],
            "pairs.candidates": row[3],
        }
        ck_bytes, ck_files = dir_usage(self.state) if self.state else (0, 0)
        out.update({
            "checkpoint.bytes": ck_bytes,
            "checkpoint.files": ck_files,
            "checkpoint.write_amp": ck_bytes / text_bytes,
        })
        k = self.w.get("batches", 0)
        for i in range(k):
            out[f"incremental.batch_s.{i + 1}"] = self.batch_s[i]
        if k:
            out["incremental.batch_s"] = statistics.fmean(self.batch_s[1:])
            out["incremental.state_bytes"] = ck_bytes
        return out

    def cleanup(self):
        if self.state:
            shutil.rmtree(self.state, ignore_errors=True)
        self.spark.catalog.clearCache()
        for attr in ("out", "inc", "assignments_df"):
            self.__dict__.pop(attr, None)
        gc.collect()  # releases the JVM objects the dropped frames held


# --- the run -------------------------------------------------------------


def start_session():
    from sparkdedup.pipeline import build_spark

    # half the cores run tasks; the rest are left to the JVM's JIT compiler
    # and GC threads (about 40 % of its CPU time in the first units) and the
    # Python workers, so that units do not queue for a core behind them
    slots = max(1, len(os.sched_getaffinity(0)) // 2)
    # app name, master, shuffle partitions, JVM heap
    spark = build_spark("perfbench", f"local[{slots}]", slots, "4g")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active session and the JVM this process launched, and wait
    for the JVM (and with it the Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    try:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def per_layer_metrics(tracer, counts: dict, edges: int, clusters: int, wall: float) -> dict:
    out = {f"{k}.s": v for k, v in tracer.self_times().items()}
    for layer, c in tracer.job_counts().items():
        out[f"{layer}.spark_jobs"] = c["jobs"]
        out[f"{layer}.spark_tasks"] = c["tasks"]
        out[f"{layer}.spark_failed_tasks"] = c["failed_tasks"]
    out.update(counts)
    out["verify.edges"] = edges
    out["verify.yield"] = edges / counts["pairs.candidates"] if counts["pairs.candidates"] else 0.0
    out["cc.edges_in"] = tracer.counts.get("cc.edges_in", 0)
    out["cc.rounds"] = tracer.counts.get("cc.rounds", 0)
    out["cc.components"] = clusters
    out["trace.wall_s"] = wall
    return out


def print_layer_table(name: str, m: dict, overhead: float) -> None:
    from spans import LAYERS

    wall = m["trace.wall_s"]
    print(f"per-layer self time, {name} (traced wall {wall:.3f} s, tracing overhead {overhead:+.3f} s)")
    print(f"  {'layer':<13}{'self s':>9}{'share':>8}{'jobs':>7}{'tasks':>8}{'failed':>8}")
    total = 0.0
    for layer in LAYERS:
        s = m[f"{layer}.s"]
        total += s
        print(f"  {layer:<13}{s:>9.3f}{100 * s / wall:>7.1f}%{m[f'{layer}.spark_jobs']:>7}"
              f"{m[f'{layer}.spark_tasks']:>8}{m[f'{layer}.spark_failed_tasks']:>8}")
    print(f"  {'sum':<13}{total:>9.3f}{100 * total / wall:>7.1f}%")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for rel in ("BENCHMARK.json", "sparkdedup/pipeline.py", "tests/oracle.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2
    _prepare_environment()
    # SIGTERM unwinds like an exception, so the session, the JVM and the
    # work directory are still cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(WORK, ignore_errors=True)


def _run(args) -> int:
    import gate
    from spans import Tracer
    from sparkdedup.config import DedupConfig

    w = WORKLOADS[args.workload]
    cfg = DedupConfig()
    batches = w.get("batches", 1)
    texts, paths = make_corpus(w["corpus"], args.seed, batches)
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    want = gate.cached_oracle(texts, cfg, CACHE)
    print(f"{args.workload} seed {args.seed}: {len(texts)} docs, {text_bytes} text bytes, "
          f"oracle {want['n_edges']} edges / {want['n_clusters']} clusters", flush=True)

    # set-up: session start + corpus load + one untimed warm-up unit; the
    # JVM launch is part of it, as in every spark-submit job
    t = time.perf_counter()
    spark = start_session()
    inputs = [spark.read.parquet(p) for p in paths]
    warm = Unit(spark, w, inputs)
    warm.run()
    setup_s = time.perf_counter() - t
    warm.cleanup()
    print(f"setup_s {setup_s:.3f}", flush=True)

    records, traced = [], []
    n_units = max(3, round(args.seconds / UNIT_S))
    if args.trace:
        # untraced, traced, untraced, ..., untraced: the untraced units on
        # each side of every traced one balance the warm-up trend in the
        # overhead estimate
        n_units |= 1
    for i in range(1, n_units + 1):
        use_trace = bool(args.trace) and i % 2 == 0
        unit = Unit(spark, w, inputs)
        rec = {"unit": i, "traced": use_trace}
        tracer = None
        try:
            if use_trace:
                tracer = Tracer(spark)
                try:
                    tracer.install()
                    with HostProbe() as probe, tracer.span("run"):
                        unit.run(tracer=tracer)
                finally:
                    tracer.uninstall()
            else:
                with HostProbe() as probe:
                    unit.run()
            rec.update(probe.fields)
            if unit.batch_s:
                rec["batch_s"] = [round(b, 4) for b in unit.batch_s]
            edges = unit.edges()
            got = gate.digests(edges, unit.assignments, cfg.num_perm)
            rec["mismatch"] = gate.compare(got, want)
            rec["ok"] = not rec["mismatch"]
            if tracer is not None:
                counts = unit.counts(cfg, text_bytes)
                m = per_layer_metrics(tracer, counts, got["n_edges"], got["n_clusters"],
                                      probe.wall)
                t0 = tracer.spans[0]["start"]
                spans = [{**sp, "start": sp["start"] - t0, "end": sp["end"] - t0}
                         for sp in tracer.spans]
                traced.append({"metrics": m, "spans": spans, "counts": tracer.counts})
        except Exception as ex:  # a failing unit is counted, not fatal
            rec.update(ok=False, error=f"{type(ex).__name__}: {ex}"[:500])
        finally:
            unit.cleanup()
        records.append(rec)
        print("unit " + json.dumps({k: (round(v, 4) if isinstance(v, float) else v)
                                    for k, v in rec.items()}), flush=True)
    spark.stop()

    failed = sum(not r["ok"] for r in records)
    # timings of every unit that ran to the end, mismatched or not
    ok = [r for r in records if "wall_s" in r and not r["traced"]]
    if not ok or (args.trace and not traced):
        print("perfbench: no unit ran to the end", file=sys.stderr)
        return 1
    base_wall = statistics.median(r["wall_s"] for r in ok)
    if args.trace:
        metrics = {}
        for k in traced[0]["metrics"]:
            metrics[k] = statistics.median(t["metrics"][k] for t in traced)
        metrics["trace.overhead_s"] = metrics["trace.wall_s"] - base_wall
        for t in traced:
            print_layer_table(args.workload, t["metrics"], t["metrics"]["trace.wall_s"] - base_wall)
    else:
        metrics = {
            "wall_s": base_wall,
            "docs_per_s": statistics.median(len(texts) / r["wall_s"] for r in ok),
            "cpu_s": statistics.median(r["cpu_s"] for r in ok),
            "peak_rss_mb": statistics.median(r["peak_rss_mb"] for r in ok),
            "setup_s": setup_s,
        }
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "setup_s": setup_s, "records": records,
                   "traced": traced}, f, default=str)
    # report exactly the metrics BENCHMARK.json declares; a per-layer
    # count that does not apply to this workload reads 0
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    declared = declared["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {d["name"]: {"value": metrics.get(d["name"], 0), "unit": d["unit"]}
                    for d in declared},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
