"""Span tracing for the traced benchmark run.

The tracer wraps, for the duration of one pass, the public functions the
plans compose (``plans/pipeline.py``, ``plans/webcorpus.py``,
``plans/dataprep.py``) and the snapshot catalog's commit calls.  Nothing under
``tabbyld_spark/`` is edited: the wrappers are module-attribute patches that
are undone when the pass ends, so the composition being measured is the
plans' own.

Two kinds of span:

* a *phase* is a pipeline stage.  It opens when the first function of that
  stage is called and stays open until another stage's function is called or
  its enclosing span closes, so the lazy plan a stage builds and the eager
  ``cut()``/``count()`` that executes it land in the same span.  A call made
  from inside another wrapped call does not switch the phase.
* a *container* (``catalog.commit``) brackets one call and opens as a child
  of whatever span is open, so a commit made during a stage nests in it.

Every span sets the Spark job group, so each job, and the executor counters
of its stages read from the application status store, belong to the span
that launched it.  A commit write is often the action that executes its
stage's lazy plan, so the jobs a container launches count in the container
and also in its nearest enclosing stage; the container's wall is its own
(its ``self_s``).  Jobs in the pass without one of our groups go to the
``unspanned`` bucket together with the pass's own self time.
"""

from __future__ import annotations

import functools
import importlib
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# stage name -> (module, attribute names).  The attribute is patched in the
# namespace the plan looks it up in, so the plan's own call order decides
# which stage is open.
PHASES = {
    "S1.extract": [
        ("tabbyld_spark.plans.pipeline", ("extract_pages", "tables_to_canonical")),
    ],
    "S2.mentions": [
        ("tabbyld_spark.plans.pipeline", ("all_mentions", "build_gazetteer", "attach_ner")),
    ],
    "S3.candidates": [
        ("tabbyld_spark.operators.fuzzy", ("lsh_fuzzy_candidates",)),
        ("tabbyld_spark.plans.pipeline", ("generate_candidates",)),
    ],
    "S4.base_ranks": [
        ("tabbyld_spark.operators.features", ("base_feature_ranks",)),
    ],
    "S4.context": [
        ("tabbyld_spark.plans.pipeline", ("entry_context",)),
        ("tabbyld_spark.operators.features", ("entity_context", "context_similarity")),
    ],
    "S4.semantic": [
        ("tabbyld_spark.operators.features", ("parent_classes", "semantic_similarity")),
    ],
    "S5.cea": [
        ("tabbyld_spark.plans.pipeline", ("aggregate_ranks", "cea_top1")),
    ],
    "S5S6.votes_triples": [
        ("tabbyld_spark.plans.pipeline", ("cta_vote", "cpa_vote", "emit_triples")),
    ],
    "W2.extract": [
        ("tabbyld_spark.plans.webcorpus", ("extract_pages",)),
    ],
    "W4.exact_dedup": [
        ("tabbyld_spark.plans.webcorpus", ("line_dedup",)),
        ("tabbyld_spark.plans.dataprep", ("exact_dedup",)),
    ],
    "W4.simhash": [
        ("tabbyld_spark.plans.dataprep", ("simhash",)),
    ],
    "W5.filter_pack": [
        ("tabbyld_spark.plans.dataprep", ("language_id", "quality_stats")),
        ("tabbyld_spark.operators.chunking", ("chunk_documents", "pack_sequences")),
    ],
}
# ``run_stage`` is not wrapped: it calls the stage's function and then
# ``write``, so as a container it would enclose whole stages, while its own
# work (a manifest lookup) is negligible
CONTAINERS = {
    "catalog.commit": [
        ("tabbyld_spark.sources.catalog", "SnapshotCatalog", ("write",)),
    ],
}
# lineage cuts are not spans: the frames they return are remembered per span
# and counted after the pass for ``rows_out``
CUT_SITES = [("tabbyld_spark.plans.pipeline", "cut"), ("tabbyld_spark.functions.lineage", "cut")]

SPANS = list(PHASES) + list(CONTAINERS)
SPAN_METRICS = {
    "wall_s": ("s", "lower"),
    "self_s": ("s", "lower"),
    "jobs": ("count", "lower"),
    "exec_cpu_s": ("s", "lower"),
    "gc_s": ("s", "lower"),
    "shuffle_write_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "rows_out": ("rows", "higher"),
}
RESIDUAL = "unspanned"
RESIDUAL_METRICS = ("self_s", "jobs", "exec_cpu_s")


@dataclass
class Span:
    id: int
    name: str
    kind: str  # pass | phase | container
    parent: int | None
    start: float
    end: float | None = None
    frames: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans of one traced pass.  Use as ``with Tracer(spark) as tr:`` around
    the pass; spans stay in memory and are read with :meth:`report`."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self._depth = 0
        self._undo: list = []
        self.overhead_s = 0.0

    # -- span bookkeeping ------------------------------------------------
    # Every method below is timed into ``overhead_s``: it is the only work
    # the tracer adds to a pass (Python bookkeeping plus the py4j calls that
    # set the job group), so the overhead is measured directly instead of by
    # comparing two passes whose walls drift by more than the overhead as
    # the JVM warms.
    def _set_group(self) -> None:
        if self.stack:
            s = self.spans[self.stack[-1]]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def _open(self, name: str, kind: str) -> None:
        s = Span(len(self.spans), name, kind, self.stack[-1] if self.stack else None, time.time())
        self.spans.append(s)
        self.stack.append(s.id)
        self._set_group()

    def _close_top(self) -> None:
        self.spans[self.stack.pop()].end = time.time()
        self._set_group()

    def _top(self) -> Span | None:
        return self.spans[self.stack[-1]] if self.stack else None

    def _enter_phase(self, name: str) -> None:
        t0 = time.perf_counter()
        if self._depth == 0:
            top = self._top()
            if top is None or top.kind != "phase" or top.name != name:
                if top is not None and top.kind == "phase":
                    self._close_top()
                self._open(name, "phase")
        self._depth += 1
        self.overhead_s += time.perf_counter() - t0

    def _enter_container(self, name: str) -> int:
        t0 = time.perf_counter()
        self._open(name, "container")
        self.overhead_s += time.perf_counter() - t0
        return len(self.stack)

    def _exit_container(self, level: int) -> None:
        t0 = time.perf_counter()
        while len(self.stack) >= level:
            self._close_top()
        self.overhead_s += time.perf_counter() - t0

    def _phase(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self._enter_phase(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._depth -= 1

        return wrapper

    def _container(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            level = self._enter_container(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit_container(level)

        return wrapper

    def _cut(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            out = fn(*args, **kwargs)
            top = self._top()
            if top is not None:
                top.frames.append(out)
            return out

        return wrapper

    # -- patching --------------------------------------------------------
    def _patch(self, owner, attr: str, wrapped) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapped)

    def __enter__(self) -> "Tracer":
        for name, sites in PHASES.items():
            for mod, attrs in sites:
                m = importlib.import_module(mod)
                for a in attrs:
                    self._patch(m, a, self._phase(name, getattr(m, a)))
        for name, sites in CONTAINERS.items():
            for mod, cls, attrs in sites:
                c = getattr(importlib.import_module(mod), cls)
                for a in attrs:
                    self._patch(c, a, self._container(name, c.__dict__[a]))
        for mod, attr in CUT_SITES:
            m = importlib.import_module(mod)
            self._patch(m, attr, self._cut(getattr(m, attr)))
        self._open("pass", "pass")
        return self

    def __exit__(self, *exc) -> None:
        while self.stack:
            self._close_top()
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # -- analysis --------------------------------------------------------
    def report(self, extra_rows: dict[str, int] | None = None) -> dict:
        """Per-span metrics (aggregated by span name), the residual bucket,
        driver counters of the pass, and the raw span list."""
        root = self.spans[0]
        jobs = pass_jobs(self.sc, root.start, root.end)
        by_span: dict[int | None, list[dict]] = {}
        for j in jobs:
            g = j["group"] or ""
            sid = int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None
            by_span.setdefault(sid, []).append(j)

        children: dict[int, float] = {}
        for s in self.spans[1:]:
            children[s.parent] = children.get(s.parent, 0.0) + s.wall

        per_name: dict[str, dict] = {n: dict.fromkeys(SPAN_METRICS, 0) for n in SPANS}
        for s in self.spans[1:]:
            agg = per_name[s.name]
            agg["wall_s"] += s.wall
            agg["self_s"] += s.wall - children.get(s.id, 0.0)
            _add_jobs(agg, by_span.get(s.id, []))
            if s.kind == "container":
                stage = _enclosing_phase(self.spans, s)
                if stage is not None:
                    _add_jobs(per_name[stage.name], by_span.get(s.id, []))
            for df in s.frames:
                agg["rows_out"] += df.count()
        for name, n in (extra_rows or {}).items():
            per_name[name]["rows_out"] += n

        resid = dict.fromkeys(SPAN_METRICS, 0)
        resid["self_s"] = root.wall - children.get(root.id, 0.0)
        _add_jobs(resid, by_span.get(root.id, []) + by_span.get(None, []))

        metrics = {}
        for name, agg in per_name.items():
            for k, v in agg.items():
                metrics[f"{name}.{k}"] = v
        for k in RESIDUAL_METRICS:
            metrics[f"{RESIDUAL}.{k}"] = resid[k]
        metrics.update(driver_counters(jobs, root.start, root.end))
        metrics["trace.overhead_frac"] = self.overhead_s / root.wall
        return {
            "metrics": metrics,
            "spans": [
                {"id": s.id, "name": s.name, "kind": s.kind, "parent": s.parent,
                 "start": s.start, "end": s.end,
                 "jobs": [j["id"] for j in by_span.get(s.id, [])]}
                for s in self.spans
            ],
        }


def _enclosing_phase(spans: list[Span], s: Span) -> Span | None:
    p = s.parent
    while p is not None and spans[p].kind != "phase":
        p = spans[p].parent
    return None if p is None else spans[p]


def _add_jobs(agg: dict, jobs: list[dict]) -> None:
    for j in jobs:
        agg["jobs"] += 1
        for k in ("exec_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            if k in agg:
                agg[k] += j[k]


def pass_jobs(sc, t_start: float, t_end: float, settle_s: float = 10.0) -> list[dict]:
    """Jobs submitted in [t_start, t_end] with their stages' executor
    counters, read from the application status store (works with the UI
    off).  Waits for the listener bus to record every job's completion."""
    store = sc._jsc.sc().statusStore()
    lo, hi = int(t_start * 1000), int(t_end * 1000) + 1
    deadline = time.time() + settle_s
    while True:
        raw, pending = [], False
        it = store.jobsList(None)
        for i in range(it.size()):
            j = it.apply(i)
            sub = j.submissionTime()
            if sub.isEmpty() or not lo <= sub.get().getTime() <= hi:
                continue
            comp = j.completionTime()
            if comp.isEmpty():
                pending = True
                continue
            raw.append((j, sub.get().getTime(), comp.get().getTime()))
        if not pending or time.time() > deadline:
            break
        time.sleep(0.05)

    seen_stages: set[int] = set()
    jobs = []
    for j, sub, comp in sorted(raw, key=lambda r: r[1]):
        group = j.jobGroup()
        rec = {
            "id": j.jobId(), "submit": sub / 1000.0, "end": comp / 1000.0,
            "group": None if group.isEmpty() else group.get(),
            "name": j.name(),
            "exec_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            st = store.lastStageAttempt(sid)
            if str(st.status()) != "COMPLETE":
                continue
            rec["exec_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1000.0
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        jobs.append(rec)
    return jobs


def is_broadcast_job(job: dict) -> bool:
    # broadcast exchanges build their relation on the exchange's own thread
    # pool; the job's call site is that pool's captured-thread-locals lambda
    return "withThreadLocalCaptured" in job["name"]


def driver_counters(jobs: list[dict], t_start: float, t_end: float) -> dict:
    """``driver.serial_s`` is the pass wall during which no Spark job was
    running (planning, Python round trips, scheduling gaps)."""
    covered, reach = 0.0, t_start
    for j in sorted(jobs, key=lambda j: j["submit"]):
        lo, hi = max(j["submit"], reach), min(j["end"], t_end)
        if hi > lo:
            covered += hi - lo
        reach = max(reach, j["end"])
    return {
        "driver.serial_s": (t_end - t_start) - covered,
        "driver.jobs": len(jobs),
        "driver.broadcast_jobs": sum(1 for j in jobs if is_broadcast_job(j)),
    }
