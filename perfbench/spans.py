"""Spans around the engine's public layer calls, and the Spark runtime
cost of each span.

The benchmark never edits engine code. ``Tracer.wrap`` replaces a
public function with a timing wrapper in the module namespace its
caller looks it up in (``plans.pipeline`` imports ``apply_mappings`` by
name, so the wrapper goes into ``etl_tool_spark.plans.pipeline``).
Every span tags the Spark jobs it starts with its own job group; after
each op ``harvest`` reads those jobs' stages from Spark's status store
(``AppStatusStore.lastStageAttempt``) and their SQL executions from the
SQL status store, so each span carries the task time, CPU, GC, shuffle
and spill of exactly the jobs it started itself. Both stores work with
``spark.ui.enabled=false``.

Spans stay in memory; ``dump`` writes them out when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

RUNTIME_FIELDS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                  "input_bytes", "failed_tasks")


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "group",
                 "runtime", "stages", "sql")

    def __init__(self, sid: int, name: str, parent: int | None, op: int):
        self.id, self.name, self.parent, self.op = sid, name, parent, op
        self.group = f"perfbench-{sid}"
        self.start = time.perf_counter()
        self.end = None
        self.runtime = dict.fromkeys(RUNTIME_FIELDS, 0)
        self.stages: list[dict] = []   # per-stage metrics of this span's jobs
        self.sql: list[dict] = []      # SQL executions of this span's jobs

    @property
    def duration(self) -> float:
        return (self.end or time.perf_counter()) - self.start

    def to_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "op": self.op,
                "runtime": self.runtime, "stages": self.stages,
                "sql": self.sql}


class Tracer:
    """Spans of one benchmark run. ``enabled`` toggles recording per op,
    so one run can interleave traced and untraced ops."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = -1
        self.enabled = False
        self._patched: list[tuple] = []
        self._harvested = 0
        self._sql_seen = 0

    # -- spans ------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op)
        self.spans.append(s)
        self.stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self._set_group(parent)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a span-recording wrapper."""
        original = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unwrap_all(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    # -- runtime harvest --------------------------------------------------

    def harvest(self) -> None:
        """Attach stage and SQL metrics to every span recorded since the
        last harvest. Call between ops, outside any timed region."""
        store = self.sc._jsc.sc().statusStore()
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        tracker = self.sc.statusTracker()
        new = self.spans[self._harvested:]
        self._harvested = len(self.spans)
        job_to_span: dict[int, Span] = {}
        for s in new:
            rt = s.runtime
            for job_id in tracker.getJobIdsForGroup(s.group):
                job_to_span[job_id] = s
                info = tracker.getJobInfo(job_id)
                rt["jobs"] += 1
                for stage_id in (info.stageIds if info else []):
                    st = store.lastStageAttempt(stage_id)
                    if st.status().toString() == "SKIPPED":
                        continue
                    row = {
                        "stage": stage_id,
                        "tasks": st.numTasks(),
                        "task_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "gc_s": st.jvmGcTime() / 1e3,
                        "shuffle_read_bytes": st.shuffleReadBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled()
                        + st.diskBytesSpilled(),
                        "input_bytes": st.inputBytes(),
                        "failed_tasks": st.numFailedTasks(),
                    }
                    s.stages.append(row)
                    rt["stages"] += 1
                    for k, v in row.items():
                        if k != "stage":
                            rt[k] += v
        if job_to_span:
            self._harvest_sql(sql_store, job_to_span)

    def _harvest_sql(self, sql_store, job_to_span: dict[int, Span]) -> None:
        """Attach each SQL execution started since the last harvest to the
        span that owns its jobs."""
        total = sql_store.executionsCount()
        execs = sql_store.executionsList(self._sql_seen, total - self._sql_seen)
        self._sql_seen = total
        for i in range(execs.size()):
            e = execs.apply(i)
            jobs = e.jobs().keySet().toSeq()
            owner = next((job_to_span[int(jobs.apply(k))]
                          for k in range(jobs.size())
                          if int(jobs.apply(k)) in job_to_span), None)
            if owner is None:
                continue
            plan = e.physicalPlanDescription()
            owner.sql.append({
                "execution": e.executionId(),
                "exchanges": plan_count(plan, r"(?<!Broadcast)Exchange \("),
                "broadcasts": plan_count(plan, r"BroadcastExchange \("),
                "rows": _node_rows(sql_store, e.executionId()),
            })

    # -- output -----------------------------------------------------------

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({**extra, "spans": [s.to_dict() for s in self.spans]},
                      f, indent=1)


def final_plan(plan: str) -> str:
    """The executed plan tree: AQE's final plan when there is one."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1]
        tree = tree.split("== Initial Plan ==", 1)[0]
    return tree


def plan_count(plan: str, pattern: str) -> int:
    return len(re.findall(pattern, final_plan(plan)))


def _node_rows(sql_store, execution_id: int) -> dict:
    """{node name: [output rows, ...]} of one SQL execution, plus the
    rows of the first Filter below the plan's Generate (the playbook's
    source filter sits under its flatten) as ``filter_below_generate``."""
    graph = sql_store.planGraph(execution_id)
    values = sql_store.executionMetrics(execution_id)
    nodes = graph.allNodes()
    names, rows = {}, {}
    for i in range(nodes.size()):
        nd = nodes.apply(i)
        names[nd.id()] = nd.name()
        ms = nd.metrics()
        for k in range(ms.size()):
            m = ms.apply(k)
            if m.name() == "number of output rows":
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    rows[nd.id()] = int(re.sub(r"[^0-9]", "", v.get()) or 0)
    inputs: dict[int, list[int]] = {}
    edges = graph.edges()
    for i in range(edges.size()):
        ed = edges.apply(i)
        inputs.setdefault(ed.toId(), []).append(ed.fromId())
    out: dict = {}
    for nid, n in rows.items():
        out.setdefault(names[nid], []).append(n)
    gen = [nid for nid, name in names.items() if name == "Generate"]
    if gen:
        todo, seen = list(inputs.get(gen[0], [])), set()
        while todo:
            nid = todo.pop(0)
            if nid in seen:
                continue
            seen.add(nid)
            if names.get(nid) == "Filter" and nid in rows:
                out["filter_below_generate"] = rows[nid]
                break
            todo.extend(inputs.get(nid, []))
    return out


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered
