"""In-memory span tracer for the benchmark's traced run.

Spans are recorded only from the benchmark process: the benchmark opens
one around every call it makes into the package, and :meth:`Tracer.install`
replaces the public functions of the measured modules with wrappers that
open a span per call (the package source is not edited). A call nested in
a span of the same layer is passed straight through, so ``calls`` counts
entries into a layer.

Every span sets its own Spark job group (thread-local in PySpark's pinned
thread mode), so each Spark job is attributed to the innermost span that
launched it. Job, stage and task counts, task time, shuffle bytes and
spill are read from Spark's status store after the traced work ends; GC
time comes from the JVM's GarbageCollector MXBeans. Self time is a span's
duration minus the part covered by its children.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

#: modules whose public functions are wrapped, by layer name
WRAPPED_MODULES = {
    "io": ("gramene_mongodb_spark.io",),
    "lineage": ("gramene_mongodb_spark.lineage",),
    "sources": (
        "gramene_mongodb_spark.sources.obo",
        "gramene_mongodb_spark.sources.xml",
        "gramene_mongodb_spark.sources.rest",
    ),
    **{
        f"operators.{m}": (f"gramene_mongodb_spark.operators.{m}",)
        for m in (
            "relational", "closure", "documents", "trees", "genomics",
            "domains", "dedup", "similarity", "textops", "multimodal",
        )
    },
}
OPERATOR_LAYERS = tuple(k for k in WRAPPED_MODULES if k.startswith("operators."))
#: io functions that read or write data (their spans feed io.read_* / io.write_*)
IO_READS = ("load_table", "load_tables", "read_jsonl", "read_tsv", "read_orc",
            "read_binary_files", "read_evolving", "jdbc_reader")
IO_WRITES = ("write_sized", "write_parquet", "write_jsonl", "write_tsv",
             "write_orc", "write_bucketed", "upsert_parquet_collection",
             "compact_parquet", "mongo_writer")
_GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    thread: int
    t0: float
    t1: float = 0.0
    group: str = ""
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans for the threads that have tracing switched on."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.spans: dict[int, Span] = {}
        self.patched: list[tuple[object, str, object]] = []
        #: seconds spent inside the tracer's own bookkeeping
        self.instr_s = 0.0

    # -- per-thread switch -------------------------------------------------
    def enable(self, on: bool = True) -> None:
        self._local.on = on
        self._local.stack = []

    def _stack(self):
        return getattr(self._local, "stack", None) if getattr(self._local, "on", False) else None

    # -- spans ---------------------------------------------------------------
    def _enter(self, layer: str, name: str):
        stack = self._stack()
        if stack is None:
            return None
        c0 = time.perf_counter()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        span = Span(sid, parent.id if parent else None, layer, name,
                    threading.get_ident(), 0.0, group=f"perfbench-{sid}")
        prev = self._sc.getLocalProperty(_GROUP_KEY)
        self._sc.setLocalProperty(_GROUP_KEY, span.group)
        with self._lock:
            self.spans[sid] = span
            if parent is not None:
                parent.children.append(sid)
        stack.append(span)
        span.t0 = time.perf_counter()
        self.instr_s += span.t0 - c0
        return span, prev

    def _exit(self, token) -> None:
        span, prev = token
        span.t1 = time.perf_counter()
        self._local.stack.pop()
        self._sc.setLocalProperty(_GROUP_KEY, prev)
        self.instr_s += time.perf_counter() - span.t1

    def span(self, layer: str, name: str):
        """Context manager around one call (no-op when tracing is off)."""
        return _SpanCtx(self, layer, name)

    def call(self, layer: str, name: str, fn, *args, **kwargs):
        with self.span(layer, name):
            return fn(*args, **kwargs)

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            if stack is None or (stack and stack[-1].layer == layer):
                return fn(*args, **kwargs)
            token = tracer._enter(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(token)

        return wrapper

    # -- patching --------------------------------------------------------------
    def install(self) -> None:
        """Wrap the public functions of every module in WRAPPED_MODULES and
        rebind every reference to them held by a loaded package module
        (``from x import f`` copies the name), and wrap the release DAG's
        stage table so each stage gets its own span."""
        originals: dict[int, object] = {}
        for layer, mods in WRAPPED_MODULES.items():
            for mname in mods:
                mod = importlib.import_module(mname)
                for name, fn in list(vars(mod).items()):
                    if (name.startswith("_") or not inspect.isfunction(fn)
                            or fn.__module__ != mname):
                        continue
                    originals[id(fn)] = self._wrap(layer, fn)
        pkg_mods = [m for n, m in list(sys.modules.items())
                    if n.startswith("gramene_mongodb_spark") and m is not None]
        for mod in pkg_mods:
            for name, val in list(vars(mod).items()):
                wrapped = originals.get(id(val))
                if wrapped is not None:
                    self.patched.append((mod, name, val))
                    setattr(mod, name, wrapped)
        pipelines = importlib.import_module("gramene_mongodb_spark.pipelines")
        for stage, fn in list(pipelines.RELEASE_STAGES.items()):
            self.patched.append((pipelines.RELEASE_STAGES, stage, fn))
            pipelines.RELEASE_STAGES[stage] = self._wrap(f"pipelines.stage.{stage}", fn)

    def uninstall(self) -> None:
        for owner, name, val in reversed(self.patched):
            if isinstance(owner, dict):
                owner[name] = val
            else:
                setattr(owner, name, val)
        self.patched.clear()

    # -- results ---------------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of its children's intervals."""
        out = {}
        for s in self.spans.values():
            covered, end = 0.0, s.t0
            for c in sorted((self.spans[i] for i in s.children), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out[s.id] = (s.t1 - s.t0) - covered
        return out

    def dump(self, path: str, jobs_by_group: dict[str, list[dict]]) -> None:
        selfs = self.self_times()
        rows = [
            {"id": s.id, "parent": s.parent, "layer": s.layer, "name": s.name,
             "thread": s.thread, "start": s.t0, "end": s.t1,
             "self_s": selfs[s.id], "group": s.group,
             "jobs": [j["job"] for j in jobs_by_group.get(s.group, [])]}
            for s in sorted(self.spans.values(), key=lambda s: s.t0)
        ]
        with open(path, "w") as fh:
            json.dump({"spans": rows}, fh)


class _SpanCtx:
    __slots__ = ("tracer", "layer", "name", "token")

    def __init__(self, tracer, layer, name):
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self):
        self.token = self.tracer._enter(self.layer, self.name)
        return self.token[0] if self.token else None

    def __exit__(self, *exc):
        if self.token is not None:
            self.tracer._exit(self.token)
        return False


# ---------------------------------------------------------------------------
# Spark-side counters
# ---------------------------------------------------------------------------

def gc_seconds(spark) -> float:
    """Total collection time of the Spark JVM (local mode: executors too)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def _status_json(spark, data) -> list[dict]:
    """Serialize status-store records on the JVM side (one py4j call)."""
    jvm = spark._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                   "DefaultScalaModule$"), "MODULE$")
    mapper.registerModule(scala_module)
    return json.loads(mapper.writeValueAsString(data))


def jobs_by_group(spark, groups: set[str]) -> dict[str, list[dict]]:
    """Per job group: the jobs it launched, each with the stages that ran
    for it (skipped or already-run stages excluded, attempts added up) and
    their task metrics, from Spark's status store."""
    store = spark._jsc.sc().statusStore()
    no_quantiles = spark.sparkContext._gateway.new_array(spark._jvm.double, 0)
    stages: dict[int, dict] = {}
    for st in _status_json(spark, store.stageList(None, False, False, no_quantiles, None)):
        if st["status"] == "SKIPPED" or st["numTasks"] == 0:
            continue
        rec = {
            "tasks": st["numCompleteTasks"] + st["numFailedTasks"],
            "failed_tasks": st["numFailedTasks"],
            "exec_s": st["executorRunTime"] / 1000.0,
            "shuffle_write_bytes": st["shuffleWriteBytes"],
            "spill_bytes": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
        }
        prev = stages.get(st["stageId"])
        stages[st["stageId"]] = rec if prev is None else {k: rec[k] + prev[k] for k in rec}
    out: dict[str, list[dict]] = {}
    counted: set[int] = set()  # a reused shuffle stage is listed by later jobs too
    for job in sorted(_status_json(spark, store.jobsList(None)), key=lambda j: j["jobId"]):
        ids = [i for i in job["stageIds"] if i in stages and i not in counted]
        counted.update(ids)
        group = job.get("jobGroup")
        if group not in groups:
            continue
        ran = [stages[i] for i in ids]
        out.setdefault(group, []).append({
            "job": job["jobId"],
            "stages": len(ran),
            **{k: sum(r[k] for r in ran) for k in
               ("tasks", "failed_tasks", "exec_s", "shuffle_write_bytes", "spill_bytes")},
        })
    return out


# ---------------------------------------------------------------------------
# Per-layer metrics (values are per unit of work: one pass, or one request)
# ---------------------------------------------------------------------------

LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s",
    "catalog.build_s": "s",
    "catalog.eager_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "spark.rss_peak_mb": "MB",
    "io.read_s": "s",
    "io.read_calls": "count",
    "io.write_s": "s",
    "io.rows_written": "count",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.write_amp": "ratio",
    **{f"pipelines.stage_s.{s}": "s"
       for s in ("taxonomy", "genes", "homologs", "decorate")},
    "pipelines.publish_s": "s",
    "pipelines.stages_run": "count",
    "pipelines.resume_hit_s": "s",
    "lineage.checkpoints": "count",
    "lineage.self_s": "s",
    **{f"{layer}.{m}": u for layer in OPERATOR_LAYERS
       for m, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"))},
    "sources.calls": "count",
    "sources.self_s": "s",
    "trace.instr_s": "s",
    "trace.work_s": "s",
}


def summarize(tracer: Tracer, jobs: dict[str, list[dict]], units: int,
              extras: dict[str, float]) -> dict[str, float]:
    """Fold the spans and job records into LAYER_METRICS, per unit.
    ``extras`` carries the values measured by the workload itself
    (bytes written, stages run, GC, session start, traced work time)."""
    spans = list(tracer.spans.values())
    selfs = tracer.self_times()
    n = max(1, units)

    def jobs_of(ss):
        return [j for s in ss for j in jobs.get(s.group, [])]

    def subtree(s):
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(tracer.spans[i] for i in cur.children)
        return out

    def dur(ss):
        return sum(s.t1 - s.t0 for s in ss)

    by_layer: dict[str, list[Span]] = {}
    for s in spans:
        by_layer.setdefault(s.layer, []).append(s)
    all_jobs = jobs_of(spans)
    cat = by_layer.get("catalog", [])
    io_spans = by_layer.get("io", [])
    reads = [s for s in io_spans if s.name in IO_READS]
    writes = [s for s in io_spans if s.name in IO_WRITES]
    publish = [s for s in by_layer.get("pipelines", []) if s.name == "publish_release_summary"]
    stage_children = sum(
        dur([tracer.spans[i] for i in s.children
             if tracer.spans[i].layer.startswith("pipelines.stage.")])
        for s in publish
    )
    out = {
        "catalog.build_s": dur(cat) / n,
        "catalog.eager_jobs": len(jobs_of([x for s in cat for x in subtree(s)])) / n,
        "spark.jobs": len(all_jobs) / n,
        "spark.plan_s": dur(by_layer.get("plan", [])) / n,
        "io.read_s": dur(reads) / n,
        "io.read_calls": len(reads) / n,
        "io.write_s": dur(writes) / n,
        "pipelines.publish_s": (dur(publish) - stage_children) / n,
        "trace.instr_s": tracer.instr_s / n,
    }
    for k in ("stages", "tasks", "exec_s", "shuffle_write_bytes", "spill_bytes", "failed_tasks"):
        out[f"spark.{k}"] = sum(j[k] for j in all_jobs) / n
    for s in ("taxonomy", "genes", "homologs", "decorate"):
        out[f"pipelines.stage_s.{s}"] = dur(by_layer.get(f"pipelines.stage.{s}", [])) / n
    for layer in (*OPERATOR_LAYERS, "lineage", "sources"):
        ss = by_layer.get(layer, [])
        out[f"{layer}.calls"] = len(ss) / n
        out[f"{layer}.self_s"] = sum(selfs[s.id] for s in ss) / n
        if layer in OPERATOR_LAYERS:
            out[f"{layer}.jobs"] = len(jobs_of(ss)) / n
    out["lineage.checkpoints"] = out.pop("lineage.calls")
    out.update(extras)
    missing = set(LAYER_METRICS) - set(out)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {k: float(out[k]) for k in LAYER_METRICS}
