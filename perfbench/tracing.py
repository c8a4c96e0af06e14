"""Per-layer tracing for the benchmark's traced run.

Spans are recorded around calls into each layer's public functions by
wrapping them for the duration of a traced pass only (``Tracer.install``
/ ``uninstall``); untraced passes run the package unmodified.  Spark
work is attributed with ``setJobGroup("<op>:<phase>")`` plus the status
tracker, and executed-plan SQL metrics are read from the SQL status
store the way ``tools/explain_audit.py`` reads them.  Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from projet_graphdb_spark import plans as P
from projet_graphdb_spark.engine import executor as X
from projet_graphdb_spark.frontend.normalize import (
    Action,
    IActOnNode,
    IActOnRel,
    IDeleteNode,
    IDeleteRel,
    IMergeNode,
    INotExistsRel,
    IOptRel,
    ISet,
    IWhere,
)

INSTR_KINDS = ["match", "where", "create", "set", "delete", "return"]
_JOIN_NODES = ("Join", "CartesianProduct")
_PY_UDF_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPythonUDTF")


def instr_kind(instr) -> str:
    """Bucket a normalized instruction into the reference's clause kinds."""
    if isinstance(instr, (IActOnNode, IActOnRel)):
        return "create" if instr.action == Action.CREATE else "match"
    if isinstance(instr, IMergeNode):
        return "create"
    if isinstance(instr, (IOptRel, INotExistsRel)):
        return "match"
    if isinstance(instr, (IDeleteNode, IDeleteRel)):
        return "delete"
    if isinstance(instr, IWhere):
        return "where"
    if isinstance(instr, ISet):
        return "set"
    return "return"


class Tracer:
    """In-memory span recorder.  ``op(...)`` scopes the spans of one
    operation; ``phase(...)`` also tags the Spark jobs it starts."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list = []
        self.ops: list = []  # one dict of facts per traced operation
        self._op = None
        self._open: list = []  # indices of the spans still open (callers)
        self._saved: list = []

    # -- spans ---------------------------------------------------------

    @contextmanager
    def span(self, layer: str, name: str):
        rec = {
            "op": self._op["id"] if self._op else None,
            "layer": layer, "name": name,
            "parent": self._open[-1] if self._open else None,
            "t0": time.perf_counter(), "t1": None,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._open.pop()
            rec["t1"] = time.perf_counter()

    def _wrap(self, owner, attr, layer, name, on_result=None):
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*a, **kw):
            with tracer.span(layer, name):
                out = fn(*a, **kw)
            if on_result is not None:
                on_result(out)
            return out

        self._saved.append((owner, attr, fn))
        setattr(owner, attr, wrapped)

    def install(self, entry_module=None):
        """Wrap the layer entry points ``run_program`` reaches: the
        frontend passes, the prefix fold, fold materialization and
        per-instruction execution."""
        t = self
        self._wrap(X, "parse", "frontend", "parse")
        self._wrap(X, "normalize", "frontend", "normalize",
                   lambda prog: t._note("clauses", len(prog.instructions)))
        self._wrap(X, "typecheck", "frontend", "typecheck")
        self._wrap(P, "fold_literal_prefix", "plans", "prefix_fold",
                   lambda fold: t._note("folded", fold.consumed))
        self._wrap(X, "materialize_fold", "engine", "materialize_fold")
        orig = X.Executor.exec_instr

        def exec_instr(ex, instr, b):
            with t.span("engine", "instr." + instr_kind(instr)):
                return orig(ex, instr, b)

        self._saved.append((X.Executor, "exec_instr", orig))
        X.Executor.exec_instr = exec_instr
        if entry_module is not None:
            self._wrap(entry_module, "load_tpch_graph", "sources", "load")

    def uninstall(self):
        while self._saved:
            owner, attr, fn = self._saved.pop()
            setattr(owner, attr, fn)

    def _note(self, key, value):
        if self._op is not None:
            self._op[key] = self._op.get(key, 0) + value

    # -- operations and Spark attribution -------------------------------

    @contextmanager
    def op(self, op_id: str, **facts):
        self._op = {"id": op_id, **facts}
        try:
            yield self._op
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops.append(self._op)
            self._op = None

    @contextmanager
    def phase(self, name: str):
        self.sc.setJobGroup(f"{self._op['id']}:{name}", name)
        with self.span("phase", name):
            yield

    def jobs_of(self, op_id: str, phase: str) -> dict:
        """Jobs, stages, tasks, shuffle and spill bytes of one phase."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = list(st.getJobIdsForGroup(f"{op_id}:{phase}"))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = {"jobs": len(jobs), "job_ids": jobs, "stages": 0, "tasks": 0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # stage evicted from the status store
                continue
            if sd.numCompleteTasks() == 0:
                continue  # skipped stage: its shuffle output was reused
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def plan_nodes(self, job_ids) -> list:
        """(node name, number of output rows) over the executed-plan
        graphs of every SQL execution that ran one of ``job_ids``."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        wanted = set(job_ids)
        execs = sql.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {int(x) for x in e.jobs().keys().mkString(",").split(",") if x}
            if not ids & wanted:
                continue
            vals = sql.executionMetrics(e.executionId())
            nodes = sql.planGraph(e.executionId()).allNodes()
            for k in range(nodes.size()):
                n = nodes.apply(k)
                ms = n.metrics()
                rows = None
                for m in range(ms.size()):
                    if ms.apply(m).name() == "number of output rows":
                        v = vals.get(ms.apply(m).accumulatorId())
                        if v.isDefined():
                            rows = _metric_int(v.get())
                out.append((n.name(), rows))
        return out

    def gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    def dump(self, path: str):
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")
            for o in self.ops:
                fh.write(json.dumps({"op_facts": o}, default=str) + "\n")


def _metric_int(text: str) -> int:
    """SQL metric strings read like ``15,000`` or ``total (min, med,
    max)\\n1,234 (...)``; take the first number."""
    for tok in text.replace("\n", " ").split():
        digits = tok.replace(",", "")
        if digits.isdigit():
            return int(digits)
    return 0


def join_guard(df) -> tuple:
    """(logical joins in the optimized plan, joins in the executed plan).
    Call after the full-result action ran on ``df``'s own query
    execution; fewer executed joins means the action pruned work."""
    qe = df._jdf.queryExecution()

    def walk(node, acc):
        acc.append(node.nodeName())
        for i in range(node.children().size()):
            walk(node.children().apply(i), acc)
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(node.executedPlan(), acc)
        elif name.endswith("QueryStage"):
            walk(node.plan(), acc)
        return acc

    logical = sum(1 for n in walk(qe.optimizedPlan(), []) if n == "Join")
    physical = sum(1 for n in walk(qe.executedPlan(), []) if n.endswith(_JOIN_NODES))
    return logical, physical


def python_udf_rows(nodes) -> list:
    """Output rows of every Python/Arrow UDF node in ``nodes``."""
    return [rows or 0 for name, rows in nodes if name.startswith(_PY_UDF_NODES)]
