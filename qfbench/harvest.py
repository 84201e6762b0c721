"""Trace-mode instrumentation, all of it in the benchmark's own process.

- ``Tracer``: in-memory spans (name, start, end, parent) around each
  public engine call; written out once when the benchmark ends.
- ``Py4jCounter``: counts py4j round trips by wrapping the gateway
  client's ``send_command`` of this process only.
- ``RssSampler``: samples the summed VmRSS of every descendant process
  (the driver JVM and its Python workers) from ``/proc``.
- ``SqlHarvest``: per-node SQL metrics and plan-node counts of finished
  executions, read from the session's SQL status store, plus task
  durations from the app status store.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class Tracer:
    """Span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, trace_id: str):
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "trace": self.trace_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self._t0,
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the part
        covered by direct children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                d = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out


class Py4jCounter:
    """Counts py4j commands sent by this process while installed."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        orig = self._client.send_command

        def counting(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counting
        return self

    def __exit__(self, *exc):
        del self._client.send_command  # back to the class method


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background sampler of the summed RSS of this process's
    descendants; ``peak_mb`` is the highest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kib = sum(_rss_kib(p) for p in _descendants(me))
            self.peak_mb = max(self.peak_mb, kib / 1024.0)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def parse_metric(text: str, kind: str) -> float | None:
    """A formatted SQL metric value as a number (bytes, seconds or a
    count). Multi-task values read 'total (min, med, max ...)\\n<total>
    (...)'; the total is taken."""
    line = text.split("\n")[-1] if text.startswith("total") else text
    parts = line.split()
    try:
        num = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return None
    if kind == "size":
        return num * _SIZE.get(parts[1], 1)
    if kind in ("timing", "nsTiming"):
        return num * _TIME.get(parts[1], 1.0)
    if kind == "sum":
        return num
    return None


def is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


class SqlHarvest:
    """Reads finished SQL executions from the session's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        execs = self.store.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def since(self, after_id: int, timeout_s: float = 15.0) -> list[dict]:
        """Every execution with id > after_id, once the listener has
        seen each of them finish."""
        deadline = time.monotonic() + timeout_s
        while True:
            execs = self.store.executionsList()
            fresh = [
                execs.apply(i) for i in range(execs.size())
                if execs.apply(i).executionId() > after_id
            ]
            if all(e.completionTime().isDefined() for e in fresh) or (
                time.monotonic() > deadline
            ):
                return [self._one(e) for e in fresh]
            time.sleep(0.05)

    def _one(self, e) -> dict:
        eid = e.executionId()
        graph = self.store.planGraph(eid)
        values = self.store.executionMetrics(eid)
        nodes = []
        all_nodes = graph.allNodes()
        for k in range(all_nodes.size()):
            nd = all_nodes.apply(k)
            metrics = {}
            ms = nd.metrics()
            for m in range(ms.size()):
                sm = ms.apply(m)
                v = values.get(sm.accumulatorId())
                if v.isDefined():
                    num = parse_metric(v.get(), sm.metricType())
                    if num is not None:
                        metrics[sm.name()] = num
            nodes.append({"name": nd.name(), "metrics": metrics})
        done = e.completionTime()
        dur = (
            (done.get().getTime() - e.submissionTime()) / 1000.0
            if done.isDefined() else None
        )
        return {"id": eid, "duration_s": dur, "nodes": nodes}

    def task_skew(self, job_group: str) -> float:
        """max/median task duration of the stage that ran the most tasks
        among the jobs of ``job_group`` (skipped stages ran none)."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        app_store = sc._jsc.sc().statusStore()
        widest = None
        for j in tracker.getJobIdsForGroup(job_group):
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else []:
                si = tracker.getStageInfo(sid)
                if si and (widest is None or si.numCompletedTasks > widest.numCompletedTasks):
                    widest = si
        if widest is None:
            return 0.0
        tasks = app_store.taskList(widest.stageId, widest.currentAttemptId, 100000)
        durs = [
            tasks.apply(t).duration().get() for t in range(tasks.size())
            if tasks.apply(t).duration().isDefined()
        ]
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 0.0


def node_sum(execs: list[dict], metric: str, pred) -> float:
    return sum(
        n["metrics"].get(metric, 0.0)
        for e in execs for n in e["nodes"] if pred(n["name"])
    )


def plan_counts(execution: dict) -> dict[str, int]:
    names = [n["name"] for n in execution["nodes"]]
    return {
        "exchanges": sum(n == "Exchange" for n in names),
        "python_nodes": sum(is_python_node(n) for n in names),
        "broadcasts": sum(n == "BroadcastExchange" for n in names),
    }


def physical_plan_counts(df) -> dict[str, int]:
    """Python-node and regexp counts of a DataFrame's physical plan
    (before execution); proves each ladder rung is the real prefix."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "python_nodes": plan.count("EvalPython"),
        "regexp": plan.count("regexp"),
    }
