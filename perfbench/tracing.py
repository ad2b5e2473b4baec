"""Per-layer tracing from outside the program.

Spans are opened around the public calls into each layer by patching the
names the pipeline looks up at call time: the functions ``plans/pipeline``
imported into its own namespace and the ``Checkpointer`` methods.  The
report calls are spanned by the benchmark itself, around call + collect.
Nothing under the package is edited, and ``uninstall`` restores every name.

Each span sets the thread-local ``spark.job.description`` to its layer on
entry and restores the previous value on exit, so every Spark job and
stage the span submits carries the layer name into the AppStatusStore.
Stages without a description fall back to their FAIR scheduler pool (the
pipeline's per-chain pools), then to ``unattributed``.

A span on a thread with no open span (the pipeline's chain threads) takes
the current operation's root span as its parent.  Nested calls into the
layer that is already open, and every call nested in a Checkpointer
journaling span (publish, compaction, batch completion), open no new span.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

LAYERS = (
    "extract",
    "triples",
    "topics",
    "affiliations",
    "canonicalize",
    "edges",
    "checkpointer",
    "reports",
)
LAYER_METRICS = (
    "self_s",
    "task_s",
    "cpu_s",
    "core_busy_frac",
    "jobs",
    "rows_out",
    "shuffle_mb",
    "spill_mb",
    "failed_tasks",
)

# Checkpointer stage -> layer that computes it
STAGE_LAYER = {
    "documents": "extract",
    "triples": "triples",
    "topics": "topics",
    "term_df": "topics",
    "cleaned_affiliations": "affiliations",
    "affiliation_type_distances": "affiliations",
    "nodes": "canonicalize",
    "entity_surfaces": "canonicalize",
    "surface_bands": "canonicalize",
    "edges": "edges",
    "entity_stats": "edges",
}
POOL_LAYER = {
    "build-triples": "triples",
    "incr-triples": "triples",
    "build-topics": "topics",
    "incr-topics": "topics",
    "build-affiliations": "affiliations",
    "incr-affiliations": "affiliations",
}
# pipeline-namespace functions -> layer (lazy plan builders and the eager
# steps some of them run, e.g. connected-components rounds)
FUNCTION_LAYER = {
    "extract_documents": "extract",
    "emit_triples": "triples",
    "phrase_tf": "topics",
    "phrase_document_frequency": "topics",
    "mine_topics": "topics",
    "dedup_topics_within_doc": "topics",
    "topic_triples": "topics",
    "affiliation_segments": "affiliations",
    "clean_affiliations": "affiliations",
    "affiliation_type_distances": "affiliations",
    "canonicalize_entities": "canonicalize",
    "incremental_canonicalize": "canonicalize",
    "components_with_singletons": "canonicalize",
    "aggregate_edges": "edges",
}
STAGE_METHODS = (
    "run",
    "run_partitioned",
    "append",
    "refresh",
    "stage_batch",
    "append_batch",
    "refresh_batch",
)
JOURNAL_METHODS = ("publish_batch", "batch_mark_complete", "maybe_compact", "compact")

_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    absorb: bool = False


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.root: Span | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans ----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str, absorb: bool = False):
        stack = self._stack()
        top = stack[-1] if stack else None
        if top is not None and (top.layer == layer or top.absorb):
            yield top
            return
        parent = top or self.root
        sp = Span(next(self._ids), layer, name,
                  parent.id if parent else None, time.monotonic(), absorb=absorb)
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_DESC, layer)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            self.sc.setLocalProperty(_DESC, prev)
            sp.end = time.monotonic()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def operation(self, name: str):
        """Root span of one timed operation, on the calling thread."""
        with self.span(name, name) as sp:
            self.root = sp
            try:
                yield sp
            finally:
                self.root = None

    def dump(self, path) -> None:
        """Write the spans as JSON, times in seconds from the first span."""
        t0 = min((sp.start for sp in self.spans), default=0.0)
        rows = []
        for sp in sorted(self.spans, key=lambda sp: sp.start):
            row = asdict(sp)
            row["start"], row["end"] = sp.start - t0, sp.end - t0
            del row["absorb"]
            rows.append(row)
        path.write_text(json.dumps(rows, indent=0))

    # ---- patching -------------------------------------------------------
    def _patch(self, owner, attr: str, layer_of, absorb: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(layer_of(args, kwargs), attr, absorb=absorb):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from convei_abstract_relational_knowledge_explorer_spark.plans import (
            pipeline,
        )

        for fn, layer in FUNCTION_LAYER.items():
            self._patch(pipeline, fn, lambda a, k, layer=layer: layer)

        def stage_layer(args, kwargs):
            stage = kwargs.get("stage", args[1] if len(args) > 1 else None)
            return STAGE_LAYER.get(stage, "checkpointer")

        for method in STAGE_METHODS:
            self._patch(pipeline.Checkpointer, method, stage_layer)
        for method in JOURNAL_METHODS:
            self._patch(pipeline.Checkpointer, method,
                        lambda a, k: "checkpointer", absorb=True)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)


# ---- AppStatusStore -------------------------------------------------------
class StatusStore:
    """Jobs and stage attempts from Spark's live AppStatusStore, as dicts."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def jobs(self) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(self._store.jobsList(None))
        )

    def stages(self) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(
                    None, False, False, self._no_quantiles, self._empty
                )
            )
        )

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.stages()), default=-1)

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)


def _layer_of_stage(stage: dict) -> str:
    desc = stage.get("description")
    if desc in LAYERS:
        return desc
    return POOL_LAYER.get(stage.get("schedulingPool"), "unattributed")


def summarize(spans: list[Span], stages: list[dict], jobs: list[dict],
              cores: int, n_ops: int) -> dict[str, float]:
    """Per-layer metrics, each averaged per traced operation.

    ``stages``/``jobs`` must already be restricted to the traced
    operations' id windows.
    """
    per = {layer: dict.fromkeys(LAYER_METRICS, 0.0) for layer in LAYERS}
    span_s = dict.fromkeys(LAYERS, 0.0)

    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    for sp in spans:
        if sp.layer not in per:
            continue
        span_s[sp.layer] += sp.end - sp.start
        per[sp.layer]["self_s"] += (sp.end - sp.start) - _covered(
            sp, children.get(sp.id, ())
        )

    spark = dict.fromkeys(
        ("jobs", "stages", "tasks", "stage_retries", "failed_tasks", "gc_s",
         "task_s", "cpu_s", "shuffle_mb", "spill_mb", "unattributed_task_s"),
        0.0,
    )
    stage_layer = {}
    for st in stages:
        if st["status"] == "SKIPPED":
            continue
        layer = _layer_of_stage(st)
        stage_layer[st["stageId"]] = layer
        task_s = st["executorRunTime"] / 1e3
        spark["stages"] += 1
        spark["tasks"] += st["numTasks"]
        spark["stage_retries"] += st["attemptId"] > 0
        spark["failed_tasks"] += st["numFailedTasks"]
        spark["gc_s"] += st["jvmGcTime"] / 1e3
        spark["task_s"] += task_s
        spark["cpu_s"] += st["executorCpuTime"] / 1e9
        spark["shuffle_mb"] += st["shuffleWriteBytes"] / 1e6
        spark["spill_mb"] += st["diskBytesSpilled"] / 1e6
        if layer not in per:
            spark["unattributed_task_s"] += task_s
            continue
        m = per[layer]
        m["task_s"] += task_s
        m["cpu_s"] += st["executorCpuTime"] / 1e9
        m["rows_out"] += st["outputRecords"]
        m["shuffle_mb"] += st["shuffleWriteBytes"] / 1e6
        m["spill_mb"] += st["diskBytesSpilled"] / 1e6
        m["failed_tasks"] += st["numFailedTasks"]
    for job in jobs:
        spark["jobs"] += 1
        layer = job.get("description")
        if layer not in per:
            layer = next(
                (stage_layer[s] for s in sorted(job["stageIds"])
                 if s in stage_layer),
                "unattributed",
            )
        if layer in per:
            per[layer]["jobs"] += 1

    out: dict[str, float] = {}
    for layer, m in per.items():
        if span_s[layer] > 0:
            m["core_busy_frac"] = m["task_s"] / (span_s[layer] * cores)
        for name, value in m.items():
            scale = 1 if name == "core_busy_frac" else n_ops
            out[f"{layer}.{name}"] = value / scale
    for name, value in spark.items():
        out[f"spark.{name}"] = value / n_ops
    return out


def _covered(span: Span, kids) -> float:
    """Seconds of ``span`` covered by the union of its children."""
    iv = sorted(
        (max(k.start, span.start), min(k.end, span.end)) for k in kids
    )
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
