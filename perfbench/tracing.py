"""Tracing from outside the program.

Spans are recorded around calls into each layer's public functions
(patched in the module namespaces of the package, so ``from x import f``
bindings are covered too) and around every workload operation.  Each
span sets its own Spark job group, ``<workload>:<span name>#<index>``,
so jobs, stages and tasks in Spark's status store attribute to the
innermost open span.  Spans are kept in memory and written once, at
exit.  Plan-level counters come from the executed physical plan of each
action and streaming counters from ``StreamingQueryProgress``.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import importlib
import inspect
import json
import sys
import time

from py4j.protocol import Py4JJavaError

from measure import self_time

PKG = "bank_transaction_data_warehouse_spark"

# module -> span-name prefix; the prefix is the layer the span counts to
LAYER_MODULES = {
    f"{PKG}.sources.tables": "sources",
    f"{PKG}.operators.keys": "operators.keys",
    f"{PKG}.operators.kmeans": "operators.kmeans",
    f"{PKG}.operators.components": "operators.components",
    f"{PKG}.operators.dedup": "operators.dedup",
    f"{PKG}.operators.ann": "operators.ann",
    f"{PKG}.operators.cdc": "operators.cdc",
    f"{PKG}.operators.scd": "operators.scd",
    f"{PKG}.multimodal.pipeline": "multimodal",
    f"{PKG}.plans.materialize": "plans.materialize",
    f"{PKG}.plans.incremental": "plans.incremental",
    f"{PKG}.streaming.jobs": "streaming",
}

_PYTHON_NODES = ("Python", "Pandas", "InArrow")
_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec")


@dataclasses.dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    info: dict = dataclasses.field(default_factory=dict)


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext(-1)

    def note(self, idx: int, **info) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark, workload: str):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seen_frames: dict[int, object] = {}
        self.plans: list[tuple[int, object]] = []  # (exec span, DataFrame)
        self.progress: dict[str, list[dict]] = {}  # job -> progress dicts
        self.overhead_s = 0.0

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"{self.workload}:{name}#{idx}", name)
        self._stack.append(idx)
        span = Span(name, time.perf_counter(), parent=parent)
        self.spans.append(span)
        self.overhead_s += span.start - t0
        try:
            yield idx
        finally:
            t1 = time.perf_counter()
            span.end = t1
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += time.perf_counter() - t1

    def note(self, idx: int, **info) -> None:
        self.spans[idx].info.update(info)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as idx:
                out = fn(*args, **kwargs)
            if name == "sources.load_table":
                t0 = time.perf_counter()
                new = id(out) not in tracer._seen_frames
                tracer._seen_frames.setdefault(id(out), out)
                tracer.spans[idx].info["new_frame"] = new
                tracer.overhead_s += time.perf_counter() - t0
            return out

        return traced

    def patch(self) -> None:
        """Wrap every public function of the layer modules, in every
        package module that binds it."""
        wrappers: dict[int, object] = {}
        for modname, prefix in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    wrappers[id(fn)] = self._wrap(f"{prefix}.{attr}", fn)
        for name, mod in list(sys.modules.items()):
            if not (name == PKG or name.startswith(PKG + ".") or name == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and id(val) in wrappers:
                    setattr(mod, attr, wrappers[id(val)])
                    self._patched.append((mod, attr, val))

    def unpatch(self) -> None:
        for mod, attr, val in reversed(self._patched):
            setattr(mod, attr, val)
        self._patched.clear()

    # -- harvesting ------------------------------------------------------
    def keep_plan(self, idx: int, df) -> None:
        self.plans.append((idx, df))

    def keep_progress(self, job: str, query) -> None:
        self.progress.setdefault(job, []).extend(
            json.loads(p.json()) for p in query._jsq.recentProgress()
        )

    def harvest(self) -> dict:
        """Jobs and stages from the status store, node counters from the
        kept executed plans.  Call once, after the timed region."""
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        jobs = []
        for j in _seq(store.jobsList(None)):
            grp = j.jobGroup()
            group = grp.get() if grp.isDefined() else ""
            span = -1
            if group.startswith(self.workload + ":") and "#" in group:
                span = int(group.rsplit("#", 1)[1])
            info = tracker.getJobInfo(j.jobId())
            jobs.append({
                "job": j.jobId(), "span": span,
                "stages": list(info.stageIds) if info else [],
            })
        stages = {}
        for sid in sorted({s for j in jobs for s in j["stages"]}):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store
            if str(s.status()) not in ("COMPLETE", "FAILED"):
                continue  # skipped: its shuffle output was reused
            stages[sid] = {
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        nodes = {idx: plan_nodes(df._jdf.queryExecution().executedPlan())
                 for idx, df in self.plans}
        return {"jobs": jobs, "stages": stages, "nodes": nodes,
                "python": python_execs(self.sql_store)}


def python_execs(sql_store) -> list[dict]:
    """Rows and bytes that Python/Arrow eval nodes exchanged, per SQL
    execution, from Spark's SQL status store.  This covers every action,
    those a plan runs while it is being built included."""
    out = []
    for e in _seq(sql_store.executionsList()):
        if not any(k in e.physicalPlanDescription() for k in _PYTHON_NODES):
            continue
        values = sql_store.executionMetrics(e.executionId())
        rows = nbytes = 0
        for node in _seq(sql_store.planGraph(e.executionId()).allNodes()):
            if not any(k in node.name() for k in _PYTHON_NODES):
                continue
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if m.name() == "number of output rows":
                    rows += int(v.get().replace(",", ""))
                elif m.name() in ("data sent to Python workers", "data returned from Python workers"):
                    nbytes += parse_size(v.get())
        out.append({"jobs": [int(j) for j in _seq(e.jobs().keys().toSeq())],
                    "rows": rows, "bytes": nbytes})
    return out


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(text: str) -> int:
    """Bytes in a size metric as the SQL status store formats it:
    ``"512.0 B"``, or a total line followed by per-task statistics,
    ``"total (min, med, max ...)\n8.1 KiB (4.0 KiB, ...)"``."""
    value, unit = text.split("\n")[-1].split()[:2]
    return int(float(value) * _SIZE_UNITS[unit])


def plan_nodes(plan) -> list[dict]:
    """Class and output rows of every node of an executed plan, descending through adaptive wrappers and query
    stages; reused exchanges are skipped so nothing counts twice."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls.startswith("Reused"):
            continue
        out.append({"cls": cls, "rows": _metric(node.metrics(), "numOutputRows")})
        stack.extend(_seq(node.children()))
    return out


def _seq(xs) -> list:
    """A Scala Seq as a Python list."""
    return [xs.apply(i) for i in range(xs.size())]


def _metric(metrics, name: str) -> int:
    m = metrics.get(name)
    return m.get().value() if m.isDefined() else 0


# -- layer metrics -------------------------------------------------------
def _sum(xs) -> float:
    return float(sum(xs))


def layer_metrics(tracer: Tracer, harvest: dict, nproc: int, queries: list[str],
                  stream_jobs: list[str]) -> dict[str, float]:
    spans = tracer.spans
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        children.setdefault(s.parent, []).append(i)

    def ancestors(i: int):
        while i >= 0:
            yield i
            i = spans[i].parent

    # every job counts to its span and all that span's ancestors
    jobs_in: dict[int, list[dict]] = {}
    for j in harvest["jobs"]:
        if 0 <= j["span"] < len(spans):
            for a in ancestors(j["span"]):
                jobs_in.setdefault(a, []).append(j)

    def named(pred) -> list[int]:
        return [i for i, s in enumerate(spans) if pred(s.name)]

    def outermost(ids: list[int], prefix: str) -> list[int]:
        """Spans of a layer not nested in another span of the same layer."""
        return [i for i in ids
                if not any(spans[a].name.startswith(prefix) for a in ancestors(spans[i].parent))]

    def dur(ids) -> float:
        return _sum(spans[i].end - spans[i].start for i in ids)

    for i, s in enumerate(spans):  # for the trace file
        s.info["jobs"] = len(jobs_in.get(i, []))

    def njobs(ids) -> float:
        return float(len({j["job"] for i in ids for j in jobs_in.get(i, [])}))

    m: dict[str, float] = {}
    loads = named(lambda n: n == "sources.load_table")
    new = sum(1 for i in loads if spans[i].info.get("new_frame"))
    m["sources.load_table.calls"] = float(len(loads))
    m["sources.load_table.s"] = dur(outermost(loads, "sources.load_table"))
    m["sources.new_frames"] = float(new)
    m["sources.memo_hit_ratio"] = (1 - new / len(loads)) if loads else 0.0
    m["sources.table_rows.s"] = dur(outermost(named(lambda n: n == "sources.table_rows"), "sources.table_rows"))
    m["sources.spread_scan.s"] = dur(outermost(named(lambda n: n == "sources.spread_scan"), "sources.spread_scan"))

    keys = outermost(named(lambda n: n.startswith("operators.keys.add_surrogate_key")), "operators.keys")
    m["operators.keys.calls"] = float(len(keys))
    m["operators.keys.s"] = dur(keys)
    m["operators.keys.jobs"] = njobs(keys)
    # a memo hit is a call that launched no job (the stats collect is skipped)
    m["operators.keys.memo_hit_ratio"] = (
        sum(1 for i in keys if not jobs_in.get(i)) / len(keys) if keys else 0.0
    )
    for mod in ("kmeans", "components", "dedup", "ann"):
        ids = outermost(named(lambda n, p=f"operators.{mod}.": n.startswith(p)), f"operators.{mod}.")
        m[f"operators.{mod}.s"] = dur(ids)
        if mod in ("kmeans", "components"):
            m[f"operators.{mod}.jobs"] = njobs(ids)

    builds = named(lambda n: n.startswith("plans.build:"))
    execs = named(lambda n: n.startswith("plans.exec:"))
    m["plans.build_s"] = dur(builds)
    m["plans.build_self_s"] = _sum(
        self_time(spans[i].start, spans[i].end,
                  [(spans[c].start, spans[c].end) for c in children.get(i, [])])
        for i in builds
    )
    m["plans.build_jobs"] = njobs(builds)

    exec_jobs = {j["job"]: j for i in execs for j in jobs_in.get(i, [])}
    st = [harvest["stages"][s] for s in {s for j in exec_jobs.values() for s in j["stages"]}
          if s in harvest["stages"]]
    exec_s = dur(execs)
    task_s = _sum(s["run_s"] for s in st)
    m["plans.exec.jobs"] = float(len(exec_jobs))
    m["plans.exec.stages"] = float(len(st))
    m["plans.exec.tasks"] = _sum(s["tasks"] for s in st)
    m["plans.exec.failed_tasks"] = _sum(s["failed_tasks"] for s in st)
    m["plans.exec.task_s"] = task_s
    m["plans.exec.utilisation"] = task_s / (nproc * exec_s) if exec_s else 0.0
    m["plans.exec.single_task_stage_s"] = _sum(s["run_s"] for s in st if s["tasks"] == 1)
    m["plans.exec.top_stage_share"] = max((s["run_s"] for s in st), default=0.0) / task_s if task_s else 0.0
    m["plans.exec.shuffle_write_bytes"] = _sum(s["shuffle_write"] for s in st)
    m["plans.exec.shuffle_read_bytes"] = _sum(s["shuffle_read"] for s in st)
    m["plans.exec.spill_bytes"] = _sum(s["spill"] for s in st)
    m["plans.exec.gc_s"] = _sum(s["gc_s"] for s in st)

    nodes = [n for ns in harvest["nodes"].values() for n in ns]
    result_rows = _sum(spans[i].info.get("result_rows", 0) for i, _df in tracer.plans)
    m["plans.exec.scan_rows"] = _sum(n["rows"] for n in nodes if n["cls"] in _SCAN_NODES)
    m["plans.exec.peak_node_rows"] = float(max((n["rows"] for n in nodes), default=0))
    m["plans.exec.result_rows"] = result_rows
    m["plans.exec.rows_examined_per_result"] = (
        _sum(n["rows"] for n in nodes) / result_rows if result_rows else 0.0
    )
    # Python/Arrow eval work of the timed operations, plan build included
    op_jobs = {j["job"] for i in named(lambda n: n.startswith("op:")) for j in jobs_in.get(i, [])}
    py = [e for e in harvest["python"] if op_jobs.intersection(e["jobs"])]
    m["functions.python_udf_rows"] = _sum(e["rows"] for e in py)
    m["functions.python_udf_bytes"] = _sum(e["bytes"] for e in py)

    for q in queries:
        m[f"plans.q.{q}.build_s"] = dur(named(lambda n, q=q: n == f"plans.build:{q}"))
        m[f"plans.q.{q}.exec_s"] = dur(named(lambda n, q=q: n == f"plans.exec:{q}"))

    mat = outermost(named(lambda n: n == "plans.materialize.build_warehouse"), "plans.materialize")
    m["plans.materialize.s"] = dur(mat)

    drains = named(lambda n: n.startswith("streaming.drain:"))
    m["streaming.drain_s"] = dur(drains)
    for job in stream_jobs:
        m[f"streaming.{job}.drain_s"] = dur(named(lambda n, j=job: n == f"streaming.drain:{j}"))
    progress = [p for ps in tracer.progress.values() for p in ps]
    m["streaming.batches"] = float(len(progress))
    add = _sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000.0
    trig = _sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0
    m["streaming.add_batch_s"] = add
    m["streaming.trigger_overhead_s"] = trig - add
    last = [ps[-1] for ps in tracer.progress.values() if ps]
    m["streaming.state_rows"] = _sum(o.get("numRowsTotal", 0) for p in last for o in p.get("stateOperators", []))
    m["streaming.state_bytes"] = _sum(o.get("memoryUsedBytes", 0) for p in last for o in p.get("stateOperators", []))
    return m
