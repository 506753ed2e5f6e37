"""Spans, Spark SQL plan metrics and process memory, all observed from
outside the program.

* ``Tracer`` records spans (name, layer, start, end, parent, run id)
  around calls into the repository's modules.  Spans stay in memory and
  are written as JSON when the run ends.  A span's self time is its
  duration minus the part of it that its children cover, so the self
  times of one operation's spans add up to the operation's wall time;
  the root span's self time is the wall time no layer span covers.
* ``SqlMetrics`` reads the SQL metrics of the plans that actually ran
  from Spark's status store (one entry per SQL execution, final AQE
  plan graph, values aggregated over all tasks).
* ``RssSampler`` samples the summed RSS of this process, the JVM and the
  JVM's descendants (the Python daemon and workers) from ``/proc``.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from contextlib import contextmanager
from typing import Dict, List, Optional

# ---------------------------------------------------------------------------
# spans


class Tracer:
    """In-memory span recorder.  A disabled tracer records nothing;
    wrapped calls pass straight through it.  Untraced runs install no
    wraps, so they execute exactly the calls a user would make."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._patches: List[tuple] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "start": time.time(), "end": None,
               "attrs": dict(attrs)}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int, **attrs) -> None:
        """Record a span observed elsewhere (a Spark SQL execution),
        clipped to its parent's interval."""
        p = self.spans[parent]
        start, end = max(start, p["start"]), min(end, p["end"])
        if end <= start:
            return
        self.spans.append({"id": len(self.spans), "name": name,
                           "layer": layer, "parent": parent,
                           "run": self.run_id, "start": start, "end": end,
                           "attrs": dict(attrs)})

    def wrap(self, owner, attr: str, name: str, layer: str,
             label=None) -> None:
        """Run every call of ``owner.attr`` inside a span until
        ``unwrap``.  ``label(args)`` may add a suffix to the span name."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            nm = name + (label(args) if label else "")
            with tracer.span(nm, layer):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- analysis -----------------------------------------------------

    def children(self, sid: int) -> List[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, span: dict) -> float:
        """Duration minus the union of the children's intervals."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(span["id"]))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def subtree(self, sid: int) -> List[dict]:
        out, todo = [], [sid]
        while todo:
            k = todo.pop()
            out.append(self.spans[k])
            todo.extend(c["id"] for c in self.children(k))
        return out

    def layer_self_times(self, root_ids: List[int]) -> Dict[str, float]:
        """Per-layer self time summed over the subtrees of ``root_ids``."""
        out: Dict[str, float] = {}
        for rid in root_ids:
            for s in self.subtree(rid):
                out[s["layer"]] = out.get(s["layer"], 0.0) + self.self_time(s)
        return out

    def total(self, root_ids: List[int], name_prefix: str) -> float:
        """Summed duration of the spans named ``name_prefix*``."""
        return sum(s["end"] - s["start"] for rid in root_ids
                   for s in self.subtree(rid)
                   if s["name"].startswith(name_prefix))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ---------------------------------------------------------------------------
# Spark SQL metrics of executed plans

_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
          "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-zµ]*)")

# (plan node name, metric name) -> key; times in s, sizes in bytes
NODE_METRICS = {
    ("MapInArrow", "time to start Python workers"): "python_boot_s",
    ("MapInArrow", "time to initialize Python workers"): "python_init_s",
    ("MapInArrow", "time to run Python workers"): "python_total_s",
    ("MapInArrow", "data sent to Python workers"): "arrow_sent_b",
    ("MapInArrow", "data returned from Python workers"): "arrow_received_b",
    ("Exchange", "shuffle write time"): "shuffle_write_s",
    ("Exchange", "shuffle bytes written"): "shuffle_b",
    ("Exchange", "fetch wait time"): "fetch_wait_s",
}


def parse_metric(text: str) -> float:
    """A status-store metric string -> number.  Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; plain ones are
    a bare number, optionally with a unit."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Executions recorded by Spark's SQL status store since ``mark``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # the status store is fed by the listener bus; wait until every
        # event posted so far has been processed
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        return int(self.store.executionsCount())

    def _completed(self, mark: int, timeout: float = 10.0):
        """The executions after ``mark``, once the store has recorded the
        end of each (it finalizes an execution a little after the action
        returns)."""
        deadline = time.time() + timeout
        while True:
            self._drain()
            lst = self.store.executionsList()
            execs = [lst.apply(i) for i in range(mark, lst.size())]
            if all(e.completionTime().isDefined() for e in execs) \
                    or time.time() > deadline:
                return execs
            time.sleep(0.05)

    def since(self, mark: int) -> List[dict]:
        """One dict per execution started after ``mark``: id, wall
        interval (epoch s), the plan text and summed node metrics."""
        out = []
        for e in self._completed(mark):
            eid = e.executionId()
            ct = e.completionTime()
            end = ct.get().getTime() / 1000.0 if ct.isDefined() else time.time()
            vals = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid)
            nodes = graph.allNodes()
            agg: Dict[str, float] = {}
            tasks = 0
            for k in range(nodes.size()):
                n = nodes.apply(k)
                nname = n.name()
                ms = n.metrics()
                for j in range(ms.size()):
                    met = ms.apply(j)
                    key = NODE_METRICS.get((nname, met.name()))
                    if key is None:
                        continue
                    txt = vals.get(met.accumulatorId())
                    if txt.isDefined():
                        agg[key] = agg.get(key, 0.0) + parse_metric(txt.get())
            jobs = e.jobs()
            it = jobs.keysIterator()
            job_ids = []
            while it.hasNext():
                job_ids.append(int(it.next()))
            for jid in job_ids:
                ji = self.sc.statusTracker().getJobInfo(jid)
                if ji is None:
                    continue
                for sid in ji.stageIds:
                    si = self.sc.statusTracker().getStageInfo(sid)
                    if si is not None:
                        tasks += si.numCompletedTasks
            out.append({"id": int(eid), "start": e.submissionTime() / 1000.0,
                        "end": end, "plan": e.physicalPlanDescription(),
                        "metrics": agg, "tasks": tasks})
        return out


def sum_metrics(execs: List[dict]) -> Dict[str, float]:
    out: Dict[str, float] = {"tasks": 0.0}
    for e in execs:
        out["tasks"] += e["tasks"]
        for k, v in e["metrics"].items():
            out[k] = out.get(k, 0.0) + v
    return out


# ---------------------------------------------------------------------------
# process memory


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


def tree_rss_mb(root: int) -> Dict[int, float]:
    """RSS of ``root`` and all its descendants, by pid."""
    kids = _children_map()
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        out[p] = _rss_mb(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Background sampler of this process's + the JVM tree's RSS.  ``peak_mb`` is the
    largest sum seen while ``active`` was set; ``worker_peak_mb`` the
    largest sum over the JVM's descendants alone (the Python workers)."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self.max_workers = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if not self.active.is_set():
                continue
            tree = tree_rss_mb(self.jvm_pid)
            workers = sum(v for p, v in tree.items() if p != self.jvm_pid)
            self.max_workers = max(self.max_workers, len(tree) - 1)
            self.worker_peak_mb = max(self.worker_peak_mb, workers)
            self.peak_mb = max(self.peak_mb,
                               sum(tree.values()) + _rss_mb(me))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def plan_outputs(plan: str) -> Optional[str]:
    """The output path of a write execution, from its plan text."""
    m = re.search(r"InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n)*?"
                  r"Arguments: (?:file:)?(/[^,\s]+)", plan)
    return m.group(1) if m else None
