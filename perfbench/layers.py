"""Spans and per-layer counters, taken from outside the engine.

``Tracer`` keeps spans in memory: name, start, end, parent and attributes.
Times are wall-clock epoch seconds so that Spark job times from the JVM
status store (epoch milliseconds) line up with the Python spans.

``SparkProbe`` reads what one query sample did from the JVM status store
(jobs, stages, tasks), the SQL status store (the executed plans' Python
worker metrics) and the block manager (pinned RDDs, storage). It tags
each phase's jobs with a job group and counts py4j round trips by wrapping
the gateway client. Only traced runs create one.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

MB = 1024 * 1024
JVM_RESOLUTION_S = 0.001


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
             "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield s
        finally:
            self._stack.pop()
            s["end"] = time.time()

    def add(self, parent: dict, name: str, start: float, end: float | None,
            **attrs) -> dict:
        """Attach a span that ran elsewhere (a Spark job) to ``parent``.

        JVM times have millisecond resolution, so a job can appear to start
        or end up to ``JVM_RESOLUTION_S`` outside the phase that submitted
        it; only that much is clamped into the parent. A span further out,
        or one without an end (a job still running after its phase), is
        kept as measured, and ``check_spans`` reports it. The measured
        times are kept as ``raw_start`` and ``raw_end``."""
        lo, hi = parent["start"], parent["end"]
        s0 = lo if lo - JVM_RESOLUTION_S <= start < lo else start
        e0 = end
        if end is not None:
            e0 = hi if hi < end <= hi + JVM_RESOLUTION_S else end
            e0 = max(e0, s0)
        s = {"id": len(self.spans), "parent": parent["id"], "name": name,
             "start": s0, "end": e0, "raw_start": start, "raw_end": end, **attrs}
        self.spans.append(s)
        return s

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(tracer: Tracer, span: dict) -> float:
    kids = [(c["start"], c["end"]) for c in tracer.children(span) if c["end"] is not None]
    return (span["end"] - span["start"]) - covered(kids)


def check_spans(tracer: Tracer) -> list[str]:
    """Problems with the span tree: an open or reversed span, a missing
    parent, a child outside its parent, or a query span whose self time
    plus its children's time is not its duration (children that overlap
    or stick out)."""
    by_id = {s["id"]: s for s in tracer.spans}
    problems = []
    eps = 1e-6
    for s in tracer.spans:
        if s["end"] is None or s["end"] < s["start"]:
            problems.append(f"span {s['id']} {s['name']} is open or reversed")
            continue
        if s["parent"] is None:
            continue
        p = by_id.get(s["parent"])
        if p is None:
            problems.append(f"span {s['id']} {s['name']} has no parent {s['parent']}")
        elif s["start"] < p["start"] - eps or s["end"] > p["end"] + eps:
            out_ms = max(p["start"] - s["start"], s["end"] - p["end"]) * 1000.0
            problems.append(f"span {s['id']} {s['name']} lies {out_ms:.1f} ms outside "
                            f"its parent {p['id']} {p['name']}")
    for s in tracer.spans:
        if s["name"] != "query" or s["end"] is None:
            continue
        kids = [c for c in tracer.children(s) if c["end"] is not None]
        total = sum(c["end"] - c["start"] for c in kids)
        if abs(self_time(tracer, s) + total - (s["end"] - s["start"])) > eps:
            problems.append(f"query span {s['id']} ({s.get('key')}): self + children != duration")
    return problems


_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB}


def _number(text: str) -> float:
    """First value of a formatted SQL metric ("363.4 KiB", "10,000")."""
    m = re.match(r"\s*(?:total[^\n]*\n)?\s*([\d.,]+)\s*([KMGT]?i?B)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


class SparkProbe:
    """Per-sample layer counters read from the driver JVM."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.py4j_calls = 0
        self.counting = False
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*a, **kw):
            if self.counting:
                self.py4j_calls += 1
            return send(*a, **kw)

        client.send_command = counted
        self._group = 0
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    # -- phases ----------------------------------------------------------
    def group(self, label: str) -> str:
        """Tag the jobs the next phase starts; returns the group id."""
        self._group += 1
        gid = f"perfbench-{self._group}"
        self.sc.setJobGroup(gid, label)
        return gid

    def clear_group(self) -> None:
        self.sc._jsc.clearJobGroup()

    def sql_execution_count(self) -> int:
        return int(self.spark._jsparkSession.sharedState().statusStore().executionsCount())

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished jobs."""
        self.jsc.listenerBus().waitUntilEmpty()

    # -- jobs, stages, tasks ---------------------------------------------
    def rdd_mark(self) -> int:
        """An RDD id below every RDD created from now on."""
        return int(self.jsc.newRddId())

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, gid: str, rdd_mark: int) -> list[dict]:
        """The jobs of one job group, with the stage and task counters of
        the finished ones; a job still running has ``end`` None. A skipped
        stage counts as reused only when every RDD it covers predates
        ``rdd_mark``: AQE skips, within one query, the map stages its
        earlier jobs already ran, and that is not reuse."""
        store = self.jsc.statusStore()
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(gid)):
            jd = self._json(store.job(jid))
            if jd.get("submissionTime") is None:
                continue
            done = jd.get("completionTime")
            job = {"job": jid, "start": jd["submissionTime"] / 1000.0,
                   "end": done / 1000.0 if done is not None else None, "stages": 0,
                   "reused_stages": 0, "tasks": 0, "task_ms_sum": 0, "task_ms_max": 0,
                   "empty_tasks": 0, "shuffle_read": 0, "shuffle_write": 0,
                   "spill": 0, "gc_ms": 0, "output_bytes": 0}
            if done is not None:
                for sid in jd["stageIds"]:
                    self._add_stage(store, sid, job, rdd_mark)
            out.append(job)
        return out

    def _add_stage(self, store, sid: int, job: dict, rdd_mark: int) -> None:
        st = self._json(store.lastStageAttempt(sid))
        if st["status"] == "SKIPPED":
            if st["rddIds"] and max(st["rddIds"]) < rdd_mark:
                job["reused_stages"] += 1
            return
        job["stages"] += 1
        job["shuffle_read"] += st["shuffleReadBytes"]
        job["shuffle_write"] += st["shuffleWriteBytes"]
        job["spill"] += st["diskBytesSpilled"]
        job["gc_ms"] += st["jvmGcTime"]
        job["output_bytes"] += st["outputBytes"]
        for t in self._json(store.taskList(sid, st["attemptId"], 1 << 30)):
            m = t.get("taskMetrics") or {}
            dur = t.get("duration") or 0
            job["tasks"] += 1
            job["task_ms_sum"] += dur
            job["task_ms_max"] = max(job["task_ms_max"], dur)
            reads = (m.get("inputMetrics") or {}).get("recordsRead", 0) + (
                m.get("shuffleReadMetrics") or {}).get("recordsRead", 0)
            job["empty_tasks"] += reads == 0

    # -- the executed plans' Python worker metrics ------------------------
    def python_metrics(self, since: int) -> tuple[float, float]:
        """(bytes sent to, rows received from) Python workers by every SQL
        execution after the first ``since``."""
        ss = self.spark._jsparkSession.sharedState().statusStore()
        n = int(ss.executionsCount()) - since
        if n <= 0:
            return 0.0, 0.0
        sent = rows = 0.0
        execs = ss.executionsList(since, n)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = ss.executionMetrics(eid)
            dot = ss.planGraph(eid).makeDotFile(values)
            if "data sent to Python workers" not in dot:
                continue
            for label in re.findall(r'label="(.*?)"', dot, flags=re.S):
                if "data sent to Python workers" not in label:
                    continue
                for item in label.split("<br>"):
                    name, _, val = item.partition(": ")
                    if name == "data sent to Python workers":
                        sent += _number(val)
                    elif name == "number of output rows":
                        rows += _number(val)
        return sent, rows

    # -- cached state ------------------------------------------------------
    def storage(self) -> tuple[int, float]:
        """(pinned RDDs, bytes they hold in memory and on disk)."""
        infos = self.jsc.getRDDStorageInfo()
        held = sum(int(r.memSize()) + int(r.diskSize()) for r in infos)
        return int(self.sc._jsc.getPersistentRDDs().size()), float(held)

    def phases(self, df) -> dict[str, float]:
        """Catalyst phase times (ms) of ``df``'s own QueryExecution."""
        ph = df._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = ph.get(name)
            out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out
