"""Tracing and accounting kept in the benchmark's own files.

* Tracer: spans (name, start, end, parent, trace id) held in memory and
  written once when the run ends. Entering a span tags the Spark jobs it
  launches through setJobDescription, so the event log's stage and task
  metrics land on the span that caused them.
* read_event_log / span_metrics: a reader for Spark's JSON event log that
  sums task metrics per job description.
* ProcTree / RssSampler: RSS and CPU of the driver JVM and Python workers
  (the benchmark's descendants), and box CPU from /proc/stat, so foreign
  load shows up as other_cpu_s.
* plan_has_python / python_bytes_sent: the pruning guard's plan checks.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import threading
import time

# physical nodes that run a Python kernel
PY_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow", "ArrowEvalPython",
            "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
            "AggregateInPandas", "WindowInPandas")


class Tracer:
    """Nested spans; when disabled, span() only yields and records nothing."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.trace_id = f"{os.getpid():x}{int(time.time() * 1e3):x}"
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def desc(self, span: dict) -> str:
        return f"pb:{self.trace_id}:{span['id']}:{span['name']}"

    def _set_desc(self, span):
        if self.sc is not None:
            self.sc.setJobDescription(self.desc(span) if span else None)

    def coverage(self, span: dict) -> float:
        """Share of a span's wall time covered by its children's union."""
        kids = [(s["start"], s["end"]) for s in self.spans
                if s["parent"] == span["id"]]
        wall = span["end"] - span["start"]
        return _union(kids) / wall if wall > 0 else 1.0

    def write(self, path) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans}, f)


class _Span:
    def __init__(self, tracer, name, attrs):
        self.t, self.name, self.attrs = tracer, name, attrs
        self.rec = None

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return None
        parent = t._stack[-1]["id"] if t._stack else None
        self.rec = {"trace": t.trace_id, "id": next(t._ids), "parent": parent,
                    "name": self.name, "start": time.time(), "end": None,
                    **self.attrs}
        t._stack.append(self.rec)
        t._set_desc(self.rec)
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        if self.rec is None:
            return False
        self.rec["end"] = time.time()
        t._stack.pop()
        t.spans.append(self.rec)
        t._set_desc(t._stack[-1] if t._stack else None)
        return False


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def _events(path):
    """Events of a single log file, or of a rolling log directory's parts
    in order (events_<n>_<app>)."""
    import pathlib
    p = pathlib.Path(path)
    parts = [p] if p.is_file() else sorted(
        (q for q in p.iterdir() if q.name.startswith("events_")),
        key=lambda q: int(q.name.split("_")[1]))
    for part in parts:
        with open(part) as f:
            for line in f:
                yield json.loads(line)


def read_event_log(path) -> dict:
    """Parse one uncompressed JSON-lines event log into jobs, stages and
    per-stage task sums. Unknown events are ignored."""
    jobs, stages, tasks = {}, {}, {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {"desc": props.get("spark.job.description"),
                         "start": ev.get("Submission Time", 0) / 1e3,
                         "end": None, "stages": list(ev.get("Stage IDs", []))}
        elif kind == "SparkListenerJobEnd":
            j = jobs.get(ev["Job ID"])
            if j is not None:
                j["end"] = ev.get("Completion Time", 0) / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            scopes = " ".join(r.get("Scope", "") or ""
                              for r in info.get("RDD Info", []))
            stages[info["Stage ID"]] = {
                "tasks": info.get("Number of Tasks", 0),
                "kernel": any(n in scopes for n in PY_NODES),
            }
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            agg = tasks.setdefault(sid, _task_zero())
            _add_task(agg, ev)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _task_zero() -> dict:
    return {k: 0.0 for k in (
        "tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "deser_s",
        "sched_delay_s", "fetch_wait_s", "shuffle_write_mb", "shuffle_read_mb",
        "spill_mb", "py_sent_mb", "py_recv_mb")}


def _add_task(agg: dict, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    agg["tasks"] += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
        agg["failed_tasks"] += 1
    run = m.get("Executor Run Time", 0) / 1e3
    deser = m.get("Executor Deserialize Time", 0) / 1e3
    ser = m.get("Result Serialization Time", 0) / 1e3
    total = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
    getting = (info.get("Finish Time", 0) - info["Getting Result Time"]) / 1e3 \
        if info.get("Getting Result Time") else 0.0
    agg["run_s"] += run
    agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    agg["deser_s"] += deser
    agg["sched_delay_s"] += max(0.0, total - run - deser - ser - getting)
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    agg["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)) / 1e6
    agg["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
    agg["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)) / 1e6
    for acc in info.get("Accumulables", []):
        name = acc.get("Name")
        if name == _PY_SENT:
            agg["py_sent_mb"] += float(acc.get("Update", 0)) / 1e6
        elif name == _PY_RECV:
            agg["py_recv_mb"] += float(acc.get("Update", 0)) / 1e6


def span_metrics(log: dict, descs) -> dict:
    """Sum jobs, stages and task metrics over the jobs whose description is
    in `descs`; also the union of those jobs' wall intervals."""
    descs = set(descs)
    out = _task_zero()
    out.update(jobs=0, stages=0, kernel_tasks=0, job_wall_s=0.0)
    intervals = []
    for jid, j in log["jobs"].items():
        if j["desc"] not in descs:
            continue
        out["jobs"] += 1
        if j["end"] is not None:
            intervals.append((j["start"], j["end"]))
        for sid in j["stages"]:
            if sid not in log["stages"]:
                continue        # skipped stage (reused shuffle output)
            out["stages"] += 1
            t = log["tasks"].get(sid)
            if t:
                for k, v in t.items():
                    out[k] += v
                if log["stages"][sid]["kernel"]:
                    out["kernel_tasks"] += t["tasks"]
    out["job_wall_s"] = _union(intervals)
    return out


def _union(intervals) -> float:
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


# ---------------------------------------------------------------------------
# processes and CPU
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    rest = raw[raw.rindex(")") + 2:].split()
    # fields after the comm: state ppid ... utime(12) stime(13) cutime(14)
    # cstime(15) ... rss(22)
    return int(rest[1]), (int(rest[11]) + int(rest[12]) + int(rest[13])
                          + int(rest[14])) / _TICK, int(rest[21]) * _PAGE


class ProcTree:
    """The live descendants of `root`, read from /proc."""

    def __init__(self, root: int):
        self.root = root

    def scan(self) -> dict:
        info = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                info[int(name)] = _stat(int(name))
            except (OSError, ValueError, IndexError):
                continue
        kids = {}
        for pid, (ppid, _c, _r) in info.items():
            kids.setdefault(ppid, []).append(pid)
        tree, todo = {}, [self.root]
        while todo:
            p = todo.pop()
            for c in kids.get(p, []):
                tree[c] = info[c]
                todo.append(c)
        return tree

    def rss_mb(self) -> float:
        return sum(r for _p, _c, r in self.scan().values()) / 1e6

    def cpu_s(self) -> float:
        own = os.times()
        return own.user + own.system + sum(c for _p, c, _r in self.scan().values())


def box_cpu_s() -> float:
    """Busy CPU seconds of the whole box since boot (/proc/stat)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    busy = sum(vals[:8]) - idle      # user..steal, no guest double count
    return busy / _TICK


class RssSampler:
    """Background sampler of the process tree's summed RSS."""

    def __init__(self, tree: ProcTree, every_s: float = 0.05):
        self.tree, self.every = tree, every_s
        self.peak = 0.0
        self._stop = threading.Event()
        self._th = None

    def __enter__(self):
        self.peak = 0.0
        self._stop.clear()
        self._th = threading.Thread(target=self._loop, daemon=True)
        self._th.start()
        return self

    def _loop(self):
        while not self._stop.is_set():
            try:
                self.peak = max(self.peak, self.tree.rss_mb())
            except Exception:       # a process vanished mid-scan
                pass
            self._stop.wait(self.every)

    def __exit__(self, *exc):
        self._stop.set()
        self._th.join()
        self.peak = max(self.peak, self.tree.rss_mb())
        return False


# ---------------------------------------------------------------------------
# pruning guard
# ---------------------------------------------------------------------------


def plan_has_python(plan: str) -> bool:
    return any(re.search(rf"\b{n}\b", plan) for n in PY_NODES)


_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size-metric string: its first 'N unit'."""
    m = _SIZE.search(text or "")
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


def sql_executions(spark, since_id: int = -1) -> list:
    """[(execution id, description, physical plan, {metric name: [values]})]
    from the session's SQL status store, which is kept with the UI off."""
    store = spark._jsparkSession.sharedState().statusStore()
    out = []
    it = store.executionsList().iterator()
    while it.hasNext():
        ex = it.next()
        eid = ex.executionId()
        if eid <= since_id:
            continue
        names = {}
        mit = ex.metrics().iterator()
        while mit.hasNext():
            pm = mit.next()
            names[pm.accumulatorId()] = pm.name()
        vals = {}
        try:
            mv = store.executionMetrics(eid)
            kit = mv.keys().iterator()
            while kit.hasNext():
                k = kit.next()
                vals.setdefault(names.get(k, str(k)), []).append(str(mv.apply(k)))
        except Exception:           # metrics not aggregated yet
            pass
        out.append((eid, ex.description(), ex.physicalPlanDescription(), vals))
    return out


def last_execution_id(spark) -> int:
    ids = [e[0] for e in sql_executions(spark)]
    return max(ids) if ids else -1


def guard(executions: list, min_python_bytes: float) -> str | None:
    """None when at least one execution ran a Python kernel and the plans
    together shipped at least `min_python_bytes` to Python workers (0 turns
    the byte check off); otherwise the reason the guard tripped."""
    if not executions:
        return "no SQL execution ran"
    if not any(plan_has_python(p) for _i, _d, p, _v in executions):
        return "no Python kernel node in the executed plans"
    sent = sum(parse_size(v) for _i, _d, _p, vals in executions
               for v in vals.get(_PY_SENT, []))
    # the status store formats sizes to one decimal: allow that rounding
    if sent < 0.95 * min_python_bytes:
        return (f"plans shipped {sent / 1e6:.1f} MB to Python, expected at "
                f"least {min_python_bytes / 1e6:.1f} MB")
    return None
