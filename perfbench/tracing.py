"""Measurement helpers owned by the benchmark: spans, Spark job-group
counts, SQL metrics of executed plans, the UDF profiler and an RSS
sampler. Nothing here changes what the engine computes.

Spans are recorded around the benchmark's own calls into each layer
(name, start, end, parent), kept in memory and written out when the run
ends. A span's self time is its duration minus the time its child spans
cover.
"""

from __future__ import annotations

import functools
import os
import re
import sys
import threading
import time
import types
from contextlib import contextmanager

from pyspark.sql import DataFrame

ENGINE = "bdtopo2refhydro_spark."
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40}


class Tracer:
    """In-memory span recorder. Each span runs under its own Spark job
    group, so Spark work can be attributed to the innermost span that
    caused it."""

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"{self.run_id}:{sid}", "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"],
                                    self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def current(self) -> str | None:
        return self.spans[self._stack[-1]]["name"] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Self seconds per span name, summed over calls."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) \
                + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def job_counts(self) -> dict[str, dict[str, int]]:
        """Spark jobs / stages / tasks / failed tasks per span name."""
        out: dict[str, dict[str, int]] = {}
        for s in self.spans:
            c = group_counts(self.sc, s["group"])
            agg = out.setdefault(s["name"], dict.fromkeys(c, 0))
            for k, v in c.items():
                agg[k] += v
        return out


def span_name(fn) -> str:
    """'operators.relational.fix_direction', 'plans.run_width_network':
    the engine module below the package (one name for all of plans)."""
    mod = fn.__module__.removeprefix(ENGINE)
    return f"{'plans' if mod.startswith('plans') else mod}.{fn.__name__}"


def _is_stage(v) -> bool:
    return isinstance(v, types.FunctionType) and v.__module__.startswith(
        (ENGINE + "operators.", ENGINE + "plans."))


def _callees(fn) -> list[tuple[object, str]]:
    """(owner, name) of every engine function that `fn` calls by name: a
    name imported into its module, or an attribute of an engine operators
    module it imports (``TX.decontaminate``)."""
    names, codes = set(), [fn.__code__]
    while codes:
        code = codes.pop()
        names.update(code.co_names)
        codes.extend(c for c in code.co_consts if isinstance(c, types.CodeType))
    out = []
    for n in names:
        v = fn.__globals__.get(n)
        if _is_stage(v):
            out.append((sys.modules[fn.__module__], n))
        elif isinstance(v, types.ModuleType) \
                and v.__name__.startswith(ENGINE + "operators."):
            out += [(v, a) for a in names if _is_stage(getattr(v, a, None))]
    return out


def _checkpoint(out):
    if isinstance(out, tuple):
        return tuple(_checkpoint(o) for o in out)
    return out.localCheckpoint() if isinstance(out, DataFrame) else out


@contextmanager
def traced_stages(tr: Tracer, targets, stages: dict, metrics: list):
    """Run the engine's own code stage by stage. While active, each
    (owner, name) in `targets`, and every engine function a targeted plan
    calls by name, is replaced by a wrapper that calls the original inside
    a span named after it and returns its output checkpointed, so the
    Spark work of each stage runs inside its span. The stages therefore
    follow the plan code as it is. Outputs are kept in `stages[span]`,
    the ``metrics=`` object each call receives in `metrics`. A call made
    from inside an operator runs unwrapped. Every name is restored on
    exit."""
    saved, seen, todo = [], set(), list(targets)
    while todo:
        owner, name = todo.pop()
        if (id(owner), name) in seen:
            continue
        seen.add((id(owner), name))
        fn = getattr(owner, name)
        if fn.__module__.startswith(ENGINE + "plans."):
            todo += _callees(fn)
        saved.append((owner, name, fn))
        setattr(owner, name, _stage(fn, tr, stages, metrics))
    try:
        yield
    finally:
        for owner, name, fn in reversed(saved):
            setattr(owner, name, fn)


def _stage(fn, tr: Tracer, stages: dict, metrics: list):
    name = span_name(fn)

    @functools.wraps(fn)
    def call(*args, **kw):
        if (tr.current() or "").startswith("operators."):
            return fn(*args, **kw)
        m = kw.get("metrics")
        if m is not None and all(m is not x for x in metrics):
            metrics.append(m)
        with tr.span(name):
            out = _checkpoint(fn(*args, **kw))
        stages.setdefault(name, []).append(out)
        return out
    return call


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks of one job group, read from
    the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:  # stage skipped (shuffle reuse): never ran
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


# --------------------------------------------------------------- SQL metrics

def _metric_value(mtype: str, text: str) -> float:
    """Parse the SQL status store's display string of one metric. Sums
    are integers with thousands separators; sizes and timings show a
    total first ("total (min, med, max ...)\\n<total> (...)")."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    if mtype == "size":
        m = re.match(r"\s*([\d.,]+)\s*([KMGT]?i?B)", text)
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)] \
            if m else 0.0
    m = re.match(r"\s*(-?[\d.,]+)", text)
    return float(m.group(1).replace(",", "")) if m else 0.0


class SqlMetrics:
    """Reads SQL metrics of every execution the session ran since the
    last call, from the SQL status store. That covers the engine's
    internal actions (checkpoints, sizing counts) as well as the final
    action, and reads the final adaptive plans, QueryStages included."""

    # node name -> metric names to read (display names in the store)
    WANTED = {
        "ArrowEvalPython": ("number of output rows",),
        "Filter": ("number of output rows",),
        "BroadcastHashJoin": ("number of output rows",),
        "SortMergeJoin": ("number of output rows",),
        "ShuffledHashJoin": ("number of output rows",),
        "Exchange": ("shuffle bytes written",),
        "Sort": ("spill size",),
        "HashAggregate": ("spill size",),
        "ObjectHashAggregate": ("spill size",),
        "SortAggregate": ("spill size",),
        "Window": ("spill size",),
    }

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.seen = -1

    def mark(self) -> None:
        """Skip every execution so far."""
        self.seen = max([self.seen] + [e.executionId() for e in
                                       self._executions()])

    def _executions(self):
        it = self.store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    def collect(self) -> list[dict]:
        """[{name, desc, metrics, jobs}] for the wanted nodes of every new
        execution."""
        nodes = []
        new_max = self.seen
        for e in list(self._executions()):
            eid = e.executionId()
            if eid <= self.seen:
                continue
            new_max = max(new_max, eid)
            vals = self.store.executionMetrics(eid)
            jobs = sorted(int(j) for j in
                          _scala_keys(e.jobs()))
            it = self.store.planGraph(eid).allNodes().iterator()
            while it.hasNext():
                n = it.next()
                want = self.WANTED.get(n.name())
                if not want:
                    continue
                got = {}
                ms = n.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() in want:
                        v = vals.get(m.accumulatorId())
                        if v.isDefined():
                            got[m.name()] = _metric_value(m.metricType(),
                                                          v.get())
                nodes.append({"name": n.name(), "desc": n.desc(),
                              "metrics": got, "jobs": jobs})
        self.seen = new_max
        return nodes


def _scala_keys(m) -> list:
    out, it = [], m.keysIterator()
    while it.hasNext():
        out.append(it.next())
    return out


def sum_metric(nodes: list[dict], metric: str, name: str | None = None,
               desc_has: str | None = None) -> float:
    return sum(n["metrics"].get(metric, 0.0) for n in nodes
               if (name is None or n["name"] == name)
               and (desc_has is None or desc_has in n["desc"]))


# --------------------------------------------------------------- UDF profiler

def udf_profile_seconds(spark) -> float:
    """Total Python time of every profiled UDF (Spark 4 perf profiler),
    then clear the collected profiles."""
    results = spark._profiler_collector._perf_profile_results
    total = sum(stats.total_tt for stats in results.values()
                if stats is not None)
    spark.profile.clear(type="perf")
    return total


# ---------------------------------------------------------------- RSS sampler

def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of `root` and all its descendants."""
    kids = children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Background thread sampling the RSS of a process tree (the driver
    JVM and the Python workers it forks) every `interval` seconds."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root = root_pid
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak(self) -> int:
        return max(self.samples, default=0)

    def _run(self):
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.samples.append(tree_rss_bytes(self.root))
