"""Layer spans for the traced benchmark runs.

The program's source is not changed for tracing: while a ``Tracer`` is
installed it wraps the public calls into each layer at runtime and records a span
(name, start, end, parent) around each call that does work.  Most layer
functions only build a lazy DataFrame; the work happens later at an
eager cut (a checkpoint-table write, ``DataFrame.localCheckpoint`` or the
final collect).  Functions that build a DataFrame therefore tag it with
their layer, and the cut opens the span named by that tag.

Spans nest strictly (one client thread), so a span's self time is its
duration minus its children's, and the self times of all spans add up to
the root span's duration exactly.  The root's own self time is reported
as ``unattributed``: query planning and glue between the layers.

Spark jobs are attributed to the innermost open span: at every span
boundary the job ids the status tracker has seen since the last boundary
are handed to the span that was innermost while they ran.  Task counts
are resolved after the run, outside the timed region.
"""

from __future__ import annotations

import importlib
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

import sparkdedup.incremental as incremental_mod
import sparkdedup.pipeline as pipeline_mod
from sparkdedup.checkpoint import CheckpointManager
from sparkdedup.incremental import IncrementalDedup
from sparkdedup.pipeline import DedupPipeline

LAYERS = (
    "preprocess", "signatures", "pairs", "verify", "cc", "certainty",
    "checkpoint", "incremental", "unattributed",
)

_TAG = "_perfbench_layer"

# the package re-exports a function under the module's own name, so
# ``import ... as`` would bind the function, not the module
cc_mod = importlib.import_module("sparkdedup.operators.connected_components")


def stage_layer(stage: str) -> str:
    """Layer of a CheckpointManager stage name."""
    if stage.startswith("cc"):  # cc_round_NNN tables of the durable star loop
        return "cc"
    return {
        "01_normalize": "preprocess",
        "03_signatures": "signatures",
        "05_pairs": "pairs",
        "06_edges": "verify",
        "08_assignments": "cc",
        "09_final": "certainty",
    }.get(stage, "unattributed")


def tag(df, layer: str):
    if isinstance(df, DataFrame):
        setattr(df, _TAG, layer)
    return df


def tag_of(df) -> str | None:
    # vars(), not getattr: DataFrame.__getattr__ resolves unknown names as
    # columns, which costs a schema round trip to the JVM
    return vars(df).get(_TAG)


class Tracer:
    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = {}
        self._seen_jobs = set(self.tracker.getJobIdsForGroup())
        self._patches: list[tuple[object, str, object]] = []
        self._cc_sizes: list[int] = []

    # --- spans ---

    def _flush_jobs(self) -> None:
        jobs = set(self.tracker.getJobIdsForGroup()) - self._seen_jobs
        if jobs and self.stack:
            self.spans[self.stack[-1]]["jobs"].extend(sorted(jobs))
        self._seen_jobs |= jobs

    def current(self) -> str | None:
        return self.spans[self.stack[-1]]["name"] if self.stack else None

    def collect(self, df, layer: str):
        """``df.toPandas()`` inside a ``layer`` span: the final collect is
        the eager cut of a lazy last stage."""
        with self.span(layer):
            return df.toPandas()

    @contextmanager
    def span(self, name: str):
        self._flush_jobs()
        idx = len(self.spans)
        self.spans.append({
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.stack[-1] if self.stack else None,
            "jobs": [],
        })
        self.stack.append(idx)
        try:
            yield
        finally:
            self._flush_jobs()
            self.stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + value

    # --- summaries (call after the root span closed) ---

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer; the root span's self time is
        ``unattributed``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for i, s in enumerate(self.spans):
            name = "unattributed" if s["parent"] is None else s["name"]
            out[name] += (s["end"] - s["start"]) - child[i]
        return out

    def job_counts(self) -> dict[str, dict[str, int]]:
        """Spark jobs, tasks and failed tasks per layer (self)."""
        out = {layer: {"jobs": 0, "tasks": 0, "failed_tasks": 0} for layer in LAYERS}
        for s in self.spans:
            c = out["unattributed" if s["parent"] is None else s["name"]]
            for jid in s["jobs"]:
                c["jobs"] += 1
                info = self.tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        c["tasks"] += st.numTasks
                        c["failed_tasks"] += st.numFailedTasks
        return out

    # --- runtime wrapping of the layer entry points ---

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _spanned(self, layer: str):
        """Wrapper factory: run the call inside a ``layer`` span and tag a
        returned DataFrame with the layer."""
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(layer):
                    return tag(orig(*args, **kwargs), layer)
            return wrapper
        return make

    def _tagged(self, layer: str):
        """Wrapper factory for functions that only build a lazy DataFrame:
        no span, only the tag."""
        def make(orig):
            def wrapper(*args, **kwargs):
                return tag(orig(*args, **kwargs), layer)
            return wrapper
        return make

    def install(self) -> None:
        tracer = self

        def stage(orig):
            def wrapper(mgr, name, build, cache=False, cut=False):
                layer = stage_layer(name)
                with tracer.span(layer):
                    df = orig(mgr, name, build, cache=cache, cut=cut)
                    if mgr.root is None and cache:
                        # memory mode persists lazily; populate the cache
                        # here so the stage's time lands in its own span
                        df.count()
                return tag(df, layer)
            return wrapper

        def local_checkpoint(orig):
            def wrapper(df, *args, **kwargs):
                layer = tag_of(df)
                if layer is None or layer == tracer.current():
                    return orig(df, *args, **kwargs)
                with tracer.span(layer):
                    return orig(df, *args, **kwargs)
            return wrapper

        def fingerprint(orig):
            def wrapper(edges):
                n, h = orig(edges)
                tracer._cc_sizes.append(n)
                return n, h
            return wrapper

        def cc_entry(orig):
            def wrapper(edges, *args, **kwargs):
                with tracer.span("cc"):
                    tracer._cc_sizes = []
                    out = orig(edges, *args, **kwargs)
                # CC fingerprints the deduplicated input edges once, then
                # once per star-loop round
                tracer.count("cc.edges_in", tracer._cc_sizes[0])
                tracer.count("cc.rounds", len(tracer._cc_sizes) - 1)
                return tag(out, "cc")
            return wrapper

        self._patch(CheckpointManager, "stage", stage)
        for attr in ("_write_manifest", "_read", "_partition_lineage"):
            self._patch(CheckpointManager, attr, self._spanned("checkpoint"))
        self._patch(ClassicDataFrame, "localCheckpoint", local_checkpoint)
        self._patch(cc_mod, "_fingerprint", fingerprint)
        self._patch(pipeline_mod, "connected_components", cc_entry)
        self._patch(incremental_mod, "connected_components", cc_entry)
        self._patch(DedupPipeline, "normalize", self._tagged("preprocess"))
        self._patch(DedupPipeline, "signatures", self._tagged("signatures"))
        self._patch(DedupPipeline, "verify_strategy", self._spanned("verify"))
        self._patch(incremental_mod, "explode_bands", self._tagged("pairs"))
        self._patch(incremental_mod, "verify_pairs", self._spanned("verify"))
        self._patch(IncrementalDedup, "_incremental_assignments", self._tagged("cc"))
        self._patch(incremental_mod, "assignments_from_components", self._tagged("cc"))
        self._patch(IncrementalDedup, "ingest_batch", self._spanned("incremental"))
        for attr in ("_write_delta", "_commit", "_table"):
            self._patch(IncrementalDedup, attr, self._spanned("checkpoint"))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)
