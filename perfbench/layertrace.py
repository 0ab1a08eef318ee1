"""Per-layer tracing from outside the engine.

``Tracer`` wraps the engine layers' public functions in their callers'
module namespaces (the algorithm modules bind them with ``from ...
import``), records one span per call (name, start, end, parent) and
labels the Spark jobs each span launches with a job group, so stage
metrics read from the status store afterwards attribute to spans. A
superstep's scatter, gather and merge all run inside its materialize
job, so their split comes from stage metrics, not Python spans. Spans
stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import contextmanager
from urllib.parse import urlparse

from fog_spark.algorithms import cc as cc_mod
from fog_spark.algorithms import lpa as lpa_mod
from fog_spark.algorithms import pagerank as pr_mod
from fog_spark.algorithms import triangles as tri_mod
from fog_spark.engine import superstep
from fog_spark.engine.checkpoint import RunContext
from fog_spark.graph import derive as derive_mod

_LABEL = "pb:"

# span name prefix -> layer (the repo's modules)
LAYERS = {
    "op.derive": "derive",
    "derive.": "derive",
    "op.pagerank": "algorithms.pagerank",
    "op.cc": "algorithms.cc",
    "op.lpa": "algorithms.lpa",
    "op.triangles": "algorithms.triangles",
    "triangles.": "algorithms.triangles",
    "preamble.": "engine.superstep.preamble",
    "superstep.": "engine.superstep.loop",
    "skew.": "engine.skew",
    "checkpoint.": "engine.checkpoint",
}


def layer_of(name: str) -> str:
    for prefix, layer in LAYERS.items():
        if name.startswith(prefix):
            return layer
    return "other"


def _step_of(args: tuple, kwargs: dict, pos: int) -> int | None:
    step = kwargs.get("step", args[pos] if len(args) > pos else None)
    return None if step is None else int(step)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs, "t0": time.perf_counter(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._label(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def _label(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{_LABEL}{sid}", f"{_LABEL}{sid}")

    # -- patching -------------------------------------------------------------

    def _wrap(self, owner, attr: str, name, attrs=None, after=None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``name`` may be a
        callable of (args, kwargs) for call-dependent span names;
        ``after(rec, result)`` annotates the span once the call returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with tracer.span(span_name, **(attrs(args, kwargs) if attrs else {})) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, out)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        def materialize_name(pos):
            def name(args, kwargs):
                step = _step_of(args, kwargs, pos)
                return "superstep.materialize" if step else "preamble.materialize"
            return name

        def materialize_attrs(pos):
            return lambda args, kwargs: {"step": _step_of(args, kwargs, pos)}

        def merge_attrs(args, kwargs):
            est = kwargs.get("est_rows", args[3] if len(args) > 3 else None)
            bc = est is not None and 0 <= est <= superstep.BROADCAST_MERGE_MAX
            return {"strategy": "broadcast" if bc else "shuffle_hash"}

        def hubs_after(rec, out):
            salted, hubs = out
            rec["attrs"]["hubs"] = hubs.count() if salted and hubs is not None else 0

        for mod in (pr_mod, cc_mod, lpa_mod):
            # materialize(df, ctx, step, ...) / materialize_observed(df, metrics, ctx, step, ...)
            self._wrap(mod, "materialize", materialize_name(2), materialize_attrs(2))
            self._wrap(mod, "materialize_observed", materialize_name(3), materialize_attrs(3))
            self._wrap(mod, "merge_join", "superstep.merge_join", merge_attrs)
            self._wrap(mod, "prepare_gather_edges", "preamble.prepare_gather_edges")
            self._wrap(mod, "pick_hub_keys", "skew.pick_hub_keys", after=hubs_after)
            self._wrap(mod, "top_degree_keys", "skew.top_degree_keys")
        self._wrap(pr_mod, "degrees_and_vertices", "preamble.degrees_and_vertices")
        self._wrap(derive_mod, "assign_dense_ids", "derive.assign_dense_ids")
        def footprint(rec, out):
            paths = [urlparse(p).path for p in out.inputFiles()]
            rec["attrs"].update(files=len(paths), bytes=sum(os.path.getsize(p) for p in paths))

        self._wrap(RunContext, "write_state", "checkpoint.write_state", materialize_attrs(2), after=footprint)
        self._wrap(RunContext, "commit", "checkpoint.commit")
        self._wrap(RunContext, "lineage_of", "checkpoint.lineage_of")
        self._wrap(RunContext, "resume_point_at_most", "checkpoint.resume_point")
        self._wrap(tri_mod, "_oriented_cached", "triangles.orient",
                   after=lambda rec, out: rec["attrs"].update(oriented_edges=int(out[1])))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# Spark status store (private API, pinned by perfbench/tests)
# ---------------------------------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def status_marks(sc) -> tuple[int, int]:
    """(next job id, next stage id): where a round about to start begins."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)  # newest first
    stages = store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    return (jobs.head().jobId() + 1 if jobs.nonEmpty() else 0,
            stages.head().stageId() + 1 if stages.nonEmpty() else 0)


def status_snapshot(sc) -> dict:
    """All jobs and stages the status store holds, as plain dicts.

    Waits for the listener bus to drain first, so every finished job is
    visible. Needs ``spark.ui.retainedJobs``/``retainedStages`` above the
    run's job and stage counts, or early entries are evicted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
    jobs = [
        {"id": j.jobId(), "group": _opt(j.jobGroup()), "status": j.status().toString(),
         "tasks": j.numTasks(), "failed_tasks": j.numFailedTasks()}
        for j in as_java(store.jobsList(None))
    ]
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = [
        {"id": s.stageId(), "attempt": s.attemptId(), "status": s.status().toString(),
         "label": _opt(s.description()), "tasks": s.numCompleteTasks() + s.numFailedTasks(),
         "failed_tasks": s.numFailedTasks(), "run_ms": s.executorRunTime(), "gc_ms": s.jvmGcTime(),
         "shuffle_read": s.shuffleReadBytes(), "shuffle_write": s.shuffleWriteBytes(),
         "spill_disk": s.diskBytesSpilled(), "spill_mem": s.memoryBytesSpilled()}
        for s in as_java(store.stageList(None, False, False, no_quantiles, None))
    ]
    return {"jobs": jobs, "stages": stages}


def _span_id(label: "str | None") -> "int | None":
    if label and label.startswith(_LABEL) and label[len(_LABEL):].isdigit():
        return int(label[len(_LABEL):])
    return None


# ---------------------------------------------------------------------------
# per-layer metrics of one traced round
# ---------------------------------------------------------------------------


def _sum(rows: list[dict], key: str) -> int:
    return sum(r[key] for r in rows)


def _percentile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def layer_metrics(spans: list[dict], status: dict, first_job: int, first_stage: int,
                  cores: int, round_wall_s: float) -> tuple[dict, dict, list[str]]:
    """Derive the per-layer metrics of one traced round.

    Returns (metrics, per-layer self times, self-check failures).
    ``first_job``/``first_stage`` are the ids the round started at."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def dur(s):
        return s["t1"] - s["t0"]

    def subtree(sid):
        out, stack = [], [sid]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(children.get(x, []))
        return out

    # result checks run in "bench." spans: their jobs are benchmark
    # overhead, not part of any layer or of the workload's Spark totals
    bench = {s["id"] for s in spans if s["name"].startswith("bench.")}
    jobs = [j for j in status["jobs"] if j["id"] >= first_job and _span_id(j["group"]) not in bench]
    stages = [
        s for s in status["stages"]
        if s["id"] >= first_stage and s["status"] in ("COMPLETE", "FAILED") and _span_id(s["label"]) not in bench
    ]
    jobs_of: dict[int, list[dict]] = {}
    for j in jobs:
        jobs_of.setdefault(_span_id(j["group"]), []).append(j)
    stages_of: dict[int, list[dict]] = {}
    for s in stages:
        stages_of.setdefault(_span_id(s["label"]), []).append(s)

    def agg(sids):
        js = [j for sid in sids for j in jobs_of.get(sid, [])]
        ss = [s for sid in sids for s in stages_of.get(sid, [])]
        return {
            "jobs": len(js), "stages": len(ss), "tasks": _sum(ss, "tasks"),
            "busy_s": _sum(ss, "run_ms") / 1000.0,
            "shuffle_read": _sum(ss, "shuffle_read"), "shuffle_write": _sum(ss, "shuffle_write"),
            "spill": _sum(ss, "spill_disk"),
        }

    def named(prefix):
        return [s for s in spans if s["name"].startswith(prefix)]

    def deep(span_list):
        return agg([x for s in span_list for x in subtree(s["id"])])

    self_times: dict[str, float] = {}
    for s in spans:
        if s["id"] in bench:
            continue
        own = dur(s) - sum(dur(by_id[c]) for c in children.get(s["id"], []))
        layer = layer_of(s["name"])
        self_times[layer] = self_times.get(layer, 0.0) + own

    m: dict[str, float] = {}
    derive_ops = named("op.derive")
    d = deep(derive_ops)
    m["derive.edges"] = sum(s["attrs"].get("edges", 0) for s in derive_ops)
    m["derive.jobs"] = d["jobs"]
    m["derive.task_busy_s"] = d["busy_s"]
    m["derive.shuffle_write_bytes"] = d["shuffle_write"]
    m["derive.spill_bytes"] = d["spill"]
    m["derive.dense_ids_s"] = sum(dur(s) for s in named("derive.assign_dense_ids"))

    pre = named("preamble.")
    p = deep(pre)
    m["preamble.wall_s"] = sum(dur(s) for s in pre)
    m["preamble.jobs"] = p["jobs"]
    m["preamble.shuffle_bytes"] = p["shuffle_read"] + p["shuffle_write"]

    steps = named("superstep.materialize")
    n_steps = len(steps)
    per_step = [deep([s]) for s in steps]
    walls = [dur(s) for s in steps]
    busy = sum(x["busy_s"] for x in per_step)
    m["superstep.count"] = n_steps
    m["superstep.wall_p50_s"] = _percentile(walls, 50)
    m["superstep.wall_p90_s"] = _percentile(walls, 90)
    for key, src in (("jobs_per_step", "jobs"), ("stages_per_step", "stages"), ("tasks_per_step", "tasks")):
        m[f"superstep.{key}"] = sum(x[src] for x in per_step) / max(n_steps, 1)
    m["superstep.shuffle_bytes_per_step"] = sum(x["shuffle_read"] + x["shuffle_write"] for x in per_step) / max(n_steps, 1)
    m["superstep.task_busy_s_per_step"] = busy / max(n_steps, 1)
    m["superstep.idle_frac"] = 1.0 - busy / max(sum(walls) * cores, 1e-9)
    merges = named("superstep.merge_join")
    m["merge.broadcast_calls"] = sum(s["attrs"]["strategy"] == "broadcast" for s in merges)
    m["merge.shuffle_hash_calls"] = sum(s["attrs"]["strategy"] == "shuffle_hash" for s in merges)

    writes = [s for s in named("checkpoint.write_state") if s["attrs"]["step"]]
    ck_steps = max(len(writes), 1)
    m["checkpoint.write_s_per_step"] = sum(dur(s) for s in writes) / ck_steps
    m["checkpoint.bytes_per_step"] = sum(s["attrs"]["bytes"] for s in writes) / ck_steps
    m["checkpoint.files_per_step"] = sum(s["attrs"]["files"] for s in writes) / ck_steps
    m["checkpoint.commit_s_per_step"] = sum(dur(s) for s in named("checkpoint.commit")) / ck_steps
    m["checkpoint.lineage_jobs"] = deep(named("checkpoint.lineage_of"))["jobs"]
    m["checkpoint.resume_point_s"] = sum(dur(s) for s in named("checkpoint.resume_point"))

    probes = named("skew.")
    m["skew.hub_probe_s"] = sum(dur(s) for s in probes)
    m["skew.hubs"] = sum(s["attrs"].get("hubs", 0) for s in named("skew.pick_hub_keys"))

    def steps_under(prefix):
        ops = {x for s in named(prefix) for x in subtree(s["id"])}
        return sum(1 for s in steps if s["id"] in ops)

    m["pagerank.iters"] = steps_under("op.pagerank")
    m["cc.iters"] = steps_under("op.cc")
    m["lpa.iters"] = steps_under("op.lpa")
    tri = named("op.triangles")
    t = deep(tri)
    m["triangles.oriented_edges"] = sum(s["attrs"].get("oriented_edges", 0) for s in named("triangles.orient"))
    m["triangles.task_busy_s"] = t["busy_s"]
    m["triangles.shuffle_bytes"] = t["shuffle_read"] + t["shuffle_write"]

    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = _sum(stages, "tasks")
    m["spark.failed_tasks"] = _sum(stages, "failed_tasks")
    m["spark.shuffle_read_bytes"] = _sum(stages, "shuffle_read")
    m["spark.shuffle_write_bytes"] = _sum(stages, "shuffle_write")
    m["spark.spill_bytes"] = _sum(stages, "spill_disk")
    m["spark.jvm_gc_s"] = _sum(stages, "gc_ms") / 1000.0

    problems = []
    attributed = sum(_sum(v, "tasks") for k, v in stages_of.items() if k is not None)
    if attributed != m["spark.tasks"]:
        problems.append(f"per-span task counts sum to {attributed}, status store has {m['spark.tasks']}")
    traced = sum(self_times.values())
    if abs(traced - round_wall_s) > 0.10 * round_wall_s:
        problems.append(f"layer self times sum to {traced:.3f}s, traced wall is {round_wall_s:.3f}s")
    m["trace.self_time_frac"] = traced / round_wall_s if round_wall_s else 0.0
    return m, self_times, problems
