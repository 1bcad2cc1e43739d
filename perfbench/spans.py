"""Per-layer spans recorded from the benchmark's side.

The program is not changed: :class:`Tracer` wraps the public functions of
each layer (and a few engine methods whose names say which round a merge
belongs to) for the length of one traced repeat. Every span runs under its
own Spark job group, so after the repeat the executed cost of each Spark
job — tasks, executor run time, shuffle bytes — and the operator metrics of
each SQL execution (Python worker time and bytes at the Arrow boundary,
join strategy of each anti-join) are read back from Spark's status stores
and charged to the span that started the job. Spark is lazy: work that a
call only plans runs inside whichever span forces it; the operator metrics
keep that deferred share attributable (e.g. extraction UDF time that runs
inside the ``kg.pipeline`` span is reported as ``kg.extract.py_run_s``).

A span's self time is the part of its interval where none of its child
spans runs (:func:`self_times`); a layer's is the sum over its spans.
"""

from __future__ import annotations

import functools
import os
import re
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layers named after the package's modules, in report order, with the
# metrics each one reports beyond the common ones
COMMON = ("wall_s", "self_s", "tasks", "exec_run_s", "shuffle_read_mb", "shuffle_write_mb")
LAYERS = {
    "session": ("start_s",),
    "kg.pipeline": (),
    "kg.extract": ("py_run_s", "py_start_s", "mb_to_py", "mb_from_py", "rows_out"),
    "kg.canonicalize": ("local_calls", "dist_calls", "rows_out"),
    "ops.graph": ("local_calls", "dist_calls", "rows_out"),
    "engine.checkpoint": ("snapshots", "mb_written"),
    "engine.seminaive": (
        "rounds",
        "derived_facts",
        "round_p50_s",
        "round_max_s",
        "smj_joins",
        "bhj_joins",
        "fresh_ratio",
    ),
    "engine.local_fixpoint": ("strata",),
    "parser": ("parse_compile_s",),
    "sources": ("rows_in",),
    "parser.export": ("py_run_s",),
    "ops.dedup": ("candidate_pairs", "verified_pairs", "verify_ratio"),
    # the benchmark's own share of a repeat: reading back and comparing
    # outputs, and (in the traced repeat) the counts tracing adds
    "bench": (),
}
UNITS = {
    "wall_s": "s",
    "self_s": "s",
    "tasks": "count",
    "exec_run_s": "s",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "start_s": "s",
    "py_run_s": "s",
    "py_start_s": "s",
    "mb_to_py": "MB",
    "mb_from_py": "MB",
    "rows_out": "rows",
    "local_calls": "count",
    "dist_calls": "count",
    "snapshots": "count",
    "mb_written": "MB",
    "rounds": "count",
    "derived_facts": "rows",
    "round_p50_s": "s",
    "round_max_s": "s",
    "smj_joins": "count",
    "bhj_joins": "count",
    "fresh_ratio": "ratio",
    "strata": "count",
    "parse_compile_s": "s",
    "rows_in": "rows",
    "candidate_pairs": "rows",
    "verified_pairs": "rows",
    "verify_ratio": "ratio",
}
OVERHEAD = "trace.overhead_s"
MB = 1 << 20


def layer_metric_keys(layer: str) -> tuple[str, ...]:
    # session start is measured outside any traced repeat: it has no spans
    return LAYERS[layer] if layer == "session" else COMMON + LAYERS[layer]


def metric_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    return [f"{layer}.{m}" for layer in LAYERS for m in layer_metric_keys(layer)] + [OVERHEAD]


def metric_unit(name: str) -> str:
    return "s" if name == OVERHEAD else UNITS[name.rsplit(".", 1)[1]]


@dataclass
class Span:
    id: int
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    self_s: float = 0.0
    # executed cost of the Spark jobs started under this span
    tasks: int = 0
    exec_run_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    # Python-worker operator metrics (MapInArrow / MapInPandas / ...)
    py: dict = field(default_factory=dict)
    anti_joins: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> None:
    """Set each span's ``self_s``: the part of its interval where it is
    innermost — running while none of its children runs. Where several
    spans are innermost at once (the engine merges predicates on a thread
    pool), they share that time equally, so the self times of a tree add
    up to its root's wall."""
    kids: dict[int, set[int]] = {}
    for s in spans:
        s.self_s = 0.0
        if s.parent is not None:
            kids.setdefault(s.parent, set()).add(s.id)
    points = sorted({t for s in spans for t in (s.start, s.end)})
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        active = {s.id: s for s in spans if s.start <= mid < s.end}
        owners = [s for s in active.values() if not kids.get(s.id, set()) & active.keys()]
        for s in owners:
            s.self_s += (b - a) / len(owners)


# ------------------------------------------------------- operator metrics

_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip="(.*?)"\];', re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_TOTAL = " total (min, med, max (stageId: taskId))"
_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin")
PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


def parse_value(text: str) -> float:
    """``'1,000'`` -> 1000; ``'6.1 s'`` -> 6.1; ``'35.2 KiB'`` -> bytes."""
    parts = text.strip().split(" (")[0].split()
    num = float(parts[0].replace(",", ""))
    return num * _SCALE[parts[1]] if len(parts) > 1 else num


def parse_dot(dot: str) -> tuple[dict[int, tuple[str, str, dict]], list[tuple[int, int]]]:
    """Nodes ``{id: (name, tooltip, {metric: value})}`` and child->parent
    edges of ``SparkPlanGraph.makeDotFile`` output."""
    nodes = {}
    for nid, label, tip in _NODE.findall(dot):
        parts = label.split("<br>")
        name = next((p[3:-4] for p in parts if p.startswith("<b>")), "")
        metrics = {}
        i = 0
        while i < len(parts):
            p = parts[i]
            if p.endswith(_TOTAL) and i + 1 < len(parts):
                metrics[p[: -len(_TOTAL)]] = parse_value(parts[i + 1])
                i += 1
            elif ": " in p:
                k, v = p.split(": ", 1)
                try:
                    metrics[k] = parse_value(v)
                except (ValueError, KeyError, IndexError):
                    pass
            i += 1
        nodes[int(nid)] = (name, tip, metrics)
    edges = [(int(a), int(b)) for a, b in _EDGE.findall(dot)]
    return nodes, edges


def anti_joins(nodes: dict, edges: list[tuple[int, int]]) -> list[dict]:
    """Each left-anti join of a plan: its strategy, the rows it kept, and
    the rows that entered it from the left (the first descendant on the
    left side that counts its output rows)."""
    children: dict[int, list[int]] = {}
    for child, parent in edges:
        children.setdefault(parent, []).append(child)
    out = []
    for nid, (name, tip, metrics) in nodes.items():
        if name not in JOINS or "LeftAnti" not in tip:
            continue
        cand = None
        cur = children.get(nid, [None])[0]
        while cur is not None and cur in nodes:
            rows = nodes[cur][2].get("number of output rows")
            if rows is not None:
                cand = rows
                break
            cur = children.get(cur, [None])[0]
        out.append({"strategy": name, "fresh": metrics.get("number of output rows"), "candidates": cand})
    return out


def py_metrics(nodes: dict) -> dict:
    """Sums over the plan's Python-worker operators."""
    keys = {
        "py_run_s": "time to run Python workers",
        "py_start_s": "time to start Python workers",
        "mb_to_py": "data sent to Python workers",
        "mb_from_py": "data returned from Python workers",
        "rows_out": "number of output rows",
    }
    out: dict = {}
    for name, _tip, metrics in nodes.values():
        if name in PY_NODES:
            for k, m in keys.items():
                v = metrics.get(m, 0.0)
                out[k] = out.get(k, 0.0) + (v / MB if k.startswith("mb_") else v)
    return out


# ----------------------------------------------------------------- tracer


class NullTracer:
    """Stands in for :class:`Tracer` in untraced repeats."""

    @contextmanager
    def span(self, layer: str, **attrs):
        yield None


class Tracer:
    """Spans of one traced repeat. ``install()`` wraps the layers for the
    repeat, ``uninstall()`` restores them, ``collect()`` charges Spark's
    executed cost to the spans, and :func:`layer_metrics` sums them up."""

    def __init__(self, spark, tag: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._later: list[tuple[Span, str, object]] = []
        self.rounds: list[dict] = []  # the engine's per-round records
        self.merges: list[Span] = []
        # jobs and SQL executions that exist already belong to earlier repeats
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        jobs = jsc.statusStore().jobsList(None)
        self._job_mark = jobs.apply(0).jobId() if jobs.size() else -1
        self._exec_mark = self._sql_store().executionsCount()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    # spans -------------------------------------------------------------

    def _thread_stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._stack, "spans", None)
        if st is None:
            st = self._stack.spans = []
        return st

    @contextmanager
    def span(self, layer: str, **attrs):
        stack = self._thread_stack()
        # a span opened on a helper thread hangs under the main thread's
        # innermost span (the engine merges predicates on a thread pool)
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), layer, parent.id if parent else None, time.perf_counter(), attrs=attrs)
            self.spans.append(sp)
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"), self.sc.getLocalProperty("spark.job.description"))
        group = f"{self.tag}#{sp.id}"
        self.sc.setJobGroup(group, group)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
            self.sc.setLocalProperty("spark.job.description", prev[1])

    def count_later(self, span: Span, key: str, df) -> None:
        """Count ``df`` after the repeat, into ``span.attrs[key]`` (the
        count is the benchmark's work, so it runs under a ``bench`` span)."""
        self._later.append((span, key, df))

    # patching ----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper_of) -> None:
        orig = getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper_of(orig))

    def _spanned(self, layer: str, on_result=None):
        tracer = self

        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                with tracer.span(layer, fn=fn.__name__) as sp:
                    out = fn(*args, **kwargs)
                    if on_result is not None:
                        on_result(sp, args, out)
                    return out

            return inner

        return wrap

    def install(self) -> None:
        from nemo_spark.engine import checkpoint, local_fixpoint, seminaive
        from nemo_spark.kg import canonicalize, extract, pipeline
        from nemo_spark.ops import dedup, graph
        from nemo_spark.parser import runner

        def local_or_dist(sp, _args, out):
            sp.attrs["local"] = bool(getattr(out, "_nemo_local", False))
            self.count_later(sp, "rows_out", out)

        def counted(key):
            return lambda sp, _args, out: self.count_later(sp, key, out)

        def snapshot_size(sp, args, _out):
            store, name, _df, step = args[:4]
            sp.attrs["bytes"] = tree_bytes(store._path(name, step))

        spanned = self._spanned
        self._patch(pipeline, "extract_turn_features_arrow", spanned("kg.extract"))
        self._patch(extract, "extract_alias_triples_arrow", spanned("kg.extract"))
        self._patch(canonicalize, "connected_components", spanned("kg.canonicalize", local_or_dist))
        self._patch(graph, "transitive_closure", spanned("ops.graph", local_or_dist))
        self._patch(checkpoint.CheckpointStore, "snapshot", spanned("engine.checkpoint", snapshot_size))
        self._patch(seminaive.SemiNaiveEngine, "run", spanned("engine.seminaive"))
        self._patch(seminaive.SemiNaiveEngine, "_merge", self._merge_wrapper)
        self._patch(seminaive.SemiNaiveEngine, "_record", self._record_wrapper)
        self._patch(local_fixpoint.LocalFixpoint, "run", spanned("engine.local_fixpoint"))
        self._patch(runner, "parse_rls", spanned("parser"))
        self._patch(runner, "compile_program", spanned("parser"))
        self._patch(runner, "read_dsv_typed", spanned("sources"))
        self._patch(runner.RlsRunner, "write_exports", spanned("parser.export"))
        self._patch(dedup, "lsh_candidate_pairs", spanned("ops.dedup", counted("candidates")))
        self._patch(dedup, "jaccard_verify", spanned("ops.dedup", counted("verified")))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _merge_wrapper(self, fn):
        tracer = self

        @functools.wraps(fn)
        def inner(engine, pred, derived):
            # the merge's stratum and round live in the caller's frame (the
            # round loop). Merges on a pool thread have no such frame; they
            # run after every record of the previous round, so they belong
            # to the round after the last one recorded
            frame, where = sys._getframe(1), {}
            while frame is not None and not where:
                f = frame.f_locals
                if frame.f_code.co_name == "_try_local_stratum":  # LocalFixpoint's result
                    where = {"stratum": f["stratum_idx"], "round": None, "local": True}
                elif "round_idx" in f and "stratum_idx" in f:
                    where = {"stratum": f["stratum_idx"], "round": f["round_idx"]}
                frame = frame.f_back
            if not where and tracer.rounds:
                last = tracer.rounds[-1]
                where = {"stratum": last["stratum"], "round": last["round"] + 1}
            with tracer.span("engine.seminaive", fn="_merge", pred=pred, **where) as sp:
                fresh, cnt = fn(engine, pred, derived)
                sp.attrs["fresh"] = cnt
                tracer.merges.append(sp)
                return fresh, cnt

        return inner

    def _record_wrapper(self, fn):
        tracer = self

        @functools.wraps(fn)
        def inner(engine, stratum, round_idx, rule, cnt, wall):
            # a stratum evaluated in LocalFixpoint records its rounds too;
            # those are not distributed rounds
            frame, local = sys._getframe(1), False
            while frame is not None and not local:
                local = frame.f_code.co_name == "_try_local_stratum"
                frame = frame.f_back
            tracer.rounds.append(
                {"stratum": stratum, "round": round_idx, "rule": rule, "derived": cnt, "wall_s": wall, "local": local}
            )
            return fn(engine, stratum, round_idx, rule, cnt, wall)

        return inner

    # read-back ---------------------------------------------------------

    def run_deferred(self) -> None:
        """Run the counts queued by :meth:`count_later`."""
        with self.span("bench", fn="trace_counts"):
            for sp, key, df in self._later:
                sp.attrs[key] = df.count()
        self._later.clear()

    def collect(self) -> None:
        """Charge every Spark job and SQL execution started under one of
        this tracer's job groups to its span."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        by_group = {f"{self.tag}#{s.id}": s for s in self.spans}
        store = jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        seen: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._job_mark:
                break
            group = job.jobGroup()
            sp = by_group.get(group.get()) if group.isDefined() else None
            if sp is None:
                continue
            ids = job.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                sp.tasks += st.numCompleteTasks()
                sp.exec_run_s += st.executorRunTime() / 1000.0
                sp.shuffle_read_mb += st.shuffleReadBytes() / MB
                sp.shuffle_write_mb += st.shuffleWriteBytes() / MB
        sql = self._sql_store()
        execs = sql.executionsList(self._exec_mark, sql.executionsCount() - self._exec_mark)
        for i in range(execs.size()):
            ex = execs.apply(i)
            sp = by_group.get(ex.description())
            if sp is None:
                continue
            plan = ex.physicalPlanDescription()
            if "LeftAnti" not in plan and not any(n in plan for n in PY_NODES):
                continue
            eid = ex.executionId()
            nodes, edges = parse_dot(sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid)))
            for k, v in py_metrics(nodes).items():
                sp.py[k] = sp.py.get(k, 0.0) + v
            sp.anti_joins.extend(anti_joins(nodes, edges))
        self_times(self.spans)

    def round_table(self) -> list[dict]:
        """Per engine round: wall, and which strategy each history
        anti-join used with its candidate and fresh rows."""
        rows = []
        for sp in self.merges:
            rows.append(
                {
                    "stratum": sp.attrs.get("stratum"),
                    "round": sp.attrs.get("round"),
                    "pred": sp.attrs.get("pred"),
                    "local": sp.attrs.get("local", False),
                    "fresh": sp.attrs.get("fresh"),
                    "wall_s": round(sp.wall_s, 4),
                    "anti_joins": [j["strategy"] for j in sp.anti_joins],
                    "candidates": sum(j["candidates"] or 0 for j in sp.anti_joins),
                }
            )
        return rows


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def layer_metrics(tracer: Tracer, session_start_s: float) -> dict[str, float]:
    """Per-layer metrics of one traced repeat (its outermost span is the
    benchmark's own, layer ``bench``)."""
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def outermost(s: Span) -> bool:
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            if p.layer == s.layer:
                return False
            p = by_id.get(p.parent) if p.parent is not None else None
        return True

    out: dict[str, float] = {}
    for layer, extra in LAYERS.items():
        if layer == "session":
            continue
        mine = [s for s in spans if s.layer == layer]
        vals = {
            "wall_s": sum(s.wall_s for s in mine if outermost(s)),
            "self_s": sum(s.self_s for s in mine),
            "tasks": sum(s.tasks for s in mine),
            "exec_run_s": sum(s.exec_run_s for s in mine),
            "shuffle_read_mb": sum(s.shuffle_read_mb for s in mine),
            "shuffle_write_mb": sum(s.shuffle_write_mb for s in mine),
        }
        for m in extra:
            vals[m] = 0.0
        out.update({f"{layer}.{k}": float(v) for k, v in vals.items()})

    # Python-boundary operators are charged to the layer whose UDF they run:
    # extraction is the only Python operator of the KG pipeline, whichever
    # kg.* span forced it; the export serializer under parser.export; any
    # other Python operator (the Datalog workload's CSV import parser,
    # which runs lazily inside engine spans) counts rows read by sources
    for s in spans:
        if not s.py:
            continue
        chain = [s.layer]
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None:
            chain.append(p.layer)
            p = by_id.get(p.parent) if p.parent is not None else None
        if any(layer.startswith("kg.") for layer in chain):
            for k, v in s.py.items():
                out[f"kg.extract.{k}"] += v
        elif "parser.export" in chain:
            out["parser.export.py_run_s"] += s.py.get("py_run_s", 0.0)
        else:
            out["sources.rows_in"] += s.py.get("rows_out", 0.0)

    out["session.start_s"] = session_start_s
    for layer in ("kg.canonicalize", "ops.graph"):
        calls = [s for s in spans if s.layer == layer and "local" in s.attrs]
        out[f"{layer}.local_calls"] = float(sum(s.attrs["local"] for s in calls))
        out[f"{layer}.dist_calls"] = float(sum(not s.attrs["local"] for s in calls))
        out[f"{layer}.rows_out"] = float(sum(s.attrs.get("rows_out", 0) for s in calls))
    snaps = [s for s in spans if s.layer == "engine.checkpoint"]
    out["engine.checkpoint.snapshots"] = float(len(snaps))
    out["engine.checkpoint.mb_written"] = sum(s.attrs.get("bytes", 0) for s in snaps) / MB

    dist_rounds = [r for r in tracer.rounds if not r["local"]]
    if dist_rounds:
        walls: dict[tuple, float] = {}
        for r in dist_rounds:
            key = (r["stratum"], r["round"])
            walls[key] = walls.get(key, 0.0) + r["wall_s"]
        out["engine.seminaive.rounds"] = float(len(walls))
        out["engine.seminaive.derived_facts"] = float(sum(r["derived"] for r in dist_rounds))
        out["engine.seminaive.round_p50_s"] = statistics.median(walls.values())
        out["engine.seminaive.round_max_s"] = max(walls.values())
    joins = [j for s in tracer.merges for j in s.anti_joins]
    out["engine.seminaive.smj_joins"] = float(sum(j["strategy"] == "SortMergeJoin" for j in joins))
    out["engine.seminaive.bhj_joins"] = float(sum(j["strategy"] == "BroadcastHashJoin" for j in joins))
    cand = sum(j["candidates"] or 0 for j in joins)
    fresh = sum(j["fresh"] or 0 for j in joins)
    out["engine.seminaive.fresh_ratio"] = fresh / cand if cand else 0.0
    out["engine.local_fixpoint.strata"] = float(sum(1 for s in spans if s.layer == "engine.local_fixpoint"))
    out["parser.parse_compile_s"] = out["parser.wall_s"]

    dd = [s for s in spans if s.layer == "ops.dedup"]
    out["ops.dedup.candidate_pairs"] = float(sum(s.attrs.get("candidates", 0) for s in dd))
    out["ops.dedup.verified_pairs"] = float(sum(s.attrs.get("verified", 0) for s in dd))
    if out["ops.dedup.candidate_pairs"]:
        out["ops.dedup.verify_ratio"] = out["ops.dedup.verified_pairs"] / out["ops.dedup.candidate_pairs"]
    return out
