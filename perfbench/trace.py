"""Outside-in tracing for the traced run (``--trace 1``).

Spans come from two places, and nothing inside the program is changed:

* Python spans, recorded by this module around calls into the program:
  the query, its ``__spark_entry__`` DataFrame build, the write, every
  public function of ``sources.sinks`` and ``streaming.ingest``, and the
  ``os`` / ``shutil`` calls those two modules make (their module-level
  ``os`` and ``shutil`` names are swapped for counting proxies).
* Spark spans, read back from an event log that a Spark
  ``EventLoggingListener`` writes while it is attached: SQL executions,
  jobs, stages, tasks and streaming micro-batches (``QueryProgressEvent``).

Both carry wall-clock milliseconds. A span's parent is the span that
caused it (task -> stage -> job -> SQL execution -> innermost Python span
open at its start); all spans of one query execution share its id. Self
time is a span's duration minus the part of it that its children cover.

Tracing is attached for alternate passes only, so one run also measures
its own overhead (traced over untraced median pass time).
"""

from __future__ import annotations

import contextlib
import importlib
import inspect
import json
import os
import shutil
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import py4j.clientserver
import py4j.java_gateway

MB = 1e6

# name -> (unit, better, end-to-end metric and workload it should move)
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s, both workloads"),
    "session.warm_s": ("s", "lower", "setup_s, both workloads"),
    "entry.build_s": ("s", "lower", "query_geomean_s, mostly stream_ingest"),
    "entry.py4j_calls": ("count", "lower", "query_geomean_s, mostly stream_ingest"),
    "catalyst.plan_s": ("s", "lower", "query_geomean_s, mostly stream_ingest"),
    "operators.jobs": ("count", "lower", "pass_s, both workloads"),
    "operators.stages": ("count", "lower", "pass_s, both workloads"),
    "operators.tasks": ("count", "lower", "pass_s, both workloads"),
    "operators.busy_s": ("s", "lower", "pass_s, both workloads"),
    "operators.task_s": ("s", "lower", "pass_s, both workloads"),
    "operators.gap_s": ("s", "lower", "query_geomean_s on stream_ingest"),
    "operators.shuffle_mb": ("MB", "lower", "pass_s, both workloads"),
    "operators.spill_mb": ("MB", "lower", "pass_s, both workloads"),
    "operators.pins_held": ("count", "lower", "query_tail_s and query_geomean_s on similarity_pins"),
    "operators.pinned_mb": ("MB", "lower", "query_tail_s and query_geomean_s on similarity_pins"),
    "operators.pin_reuse_ratio": ("ratio", "higher", "query_geomean_s on similarity_pins"),
    "transforms.arrow_rows": ("count", "lower", "query_geomean_s on similarity_pins"),
    "transforms.arrow_mb": ("MB", "lower", "query_geomean_s on similarity_pins"),
    "transforms.py_workers": ("count", "lower", "query_geomean_s on similarity_pins"),
    "sources.scan_mb": ("MB", "lower", "pass_s, both workloads"),
    "sources.files_read": ("count", "lower", "pass_s, both workloads"),
    "sources.sink_s": ("s", "lower", "pass_s on a workload that runs a sink; idle in the current two"),
    "sources.sink_mb_written": ("MB", "lower", "pass_s on a workload that runs a sink; idle in the current two"),
    "streaming.batches": ("count", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.trigger_s": ("s", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.add_batch_s": ("s", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.query_planning_s": ("s", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.wal_commit_s": ("s", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.latest_offset_s": ("s", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.state_rows": ("count", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.state_mb": ("MB", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.state_commit_s": ("s", "lower", "pass_s and query_geomean_s on stream_ingest"),
    "streaming.store_fs_calls": ("count", "lower", "pass_s on stream_ingest; zero on similarity_pins"),
    "streaming.store_fs_s": ("s", "lower", "pass_s on stream_ingest; zero on similarity_pins"),
    "streaming.store_files_written": ("count", "lower", "pass_s on stream_ingest; zero on similarity_pins"),
    "streaming.store_write_amp": ("ratio", "lower", "pass_s on stream_ingest; zero on similarity_pins"),
    "jvm.gc_s": ("s", "lower", "query_tail_s, both workloads"),
    "jvm.heap_mb": ("MB", "lower", "query_tail_s, both workloads"),
    "trace.overhead": ("ratio", "lower", "none: traced over untraced median pass time of the same run"),
}

WRAPPED_MODULES = {
    "sinks": "kommunedata_data_pipeline_spark.sources.sinks",
    "ingest": "kommunedata_data_pipeline_spark.streaming.ingest",
}
FS_CALLS = {
    "os": ("listdir", "walk", "makedirs", "mkdir", "replace", "rename",
           "remove", "unlink", "rmdir", "stat"),
    "os.path": ("exists", "isdir", "isfile", "getsize", "getmtime"),
    "shutil": ("rmtree", "move", "copy", "copy2", "copyfile", "copytree"),
}
MOVES = ("replace", "rename", "move")
PYTHON_NODES = ("Python", "Pandas", "Arrow")

_SQL = "org.apache.spark.sql.execution.ui."
_STREAM_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


@dataclass
class Span:
    sid: int
    name: str
    kind: str
    start: float  # wall-clock ms
    end: float
    parent: int | None
    exec_id: int
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals, clipped
    to the span itself (ms); never negative."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids[s.sid]]
        covered, _ = union_ms([(a, b) for a, b in clipped if b > a])
        out[s.sid] = max(0.0, (s.end - s.start) - covered)
    return out


def union_ms(intervals) -> tuple[float, float]:
    """(covered, gaps) of a set of intervals: total time they cover and the
    time between the first start and the last end that none covers."""
    iv = sorted(intervals)
    if not iv:
        return 0.0, 0.0
    covered = gaps = 0.0
    cur_s, cur_e = iv[0]
    for a, b in iv[1:]:
        if a > cur_e:
            covered += cur_e - cur_s
            gaps += a - cur_e
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return covered + cur_e - cur_s, gaps


def _now_ms() -> float:
    return time.time() * 1000.0


class _FsProxy:
    """Stands in for ``os`` / ``os.path`` / ``shutil`` inside a wrapped
    module: the calls in ``FS_CALLS`` are timed as spans, the rest pass
    through untouched."""

    def __init__(self, tracer: "Tracer", real, prefix: str):
        self._tracer, self._real, self._prefix = tracer, real, prefix
        self._calls = set(FS_CALLS[prefix])
        if prefix == "os":
            self.path = _FsProxy(tracer, real.path, "os.path")

    def __getattr__(self, name):
        attr = getattr(self._real, name)
        if name not in self._calls:
            return attr
        return self._tracer.fs_call(f"{self._prefix}.{name}", attr)


class Tracer:
    def __init__(self, spark, log_dir: str):
        self.sc = spark.sparkContext._jsc.sc()
        self.jvm = spark._jvm
        self.log_dir = log_dir
        os.makedirs(log_dir, exist_ok=True)
        conf = (
            self.sc.conf().clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
        )
        self.listener = self.jvm.org.apache.spark.scheduler.EventLoggingListener(
            self.sc.applicationId() + "-trace",
            self.jvm.scala.Option.apply(None),
            self.jvm.java.net.URI("file://" + os.path.abspath(log_dir)),
            conf,
            self.sc.hadoopConfiguration(),
        )
        self.listener.start()
        self.spans: list[Span] = []
        self.lock = threading.Lock()
        self.local = threading.local()
        self.next_id = 0
        self.exec_id = -1
        self.landing_paths: set[str] = set()
        self.main_stack: list[Span] = []  # the stack of the thread running the query
        self.execs: list[dict] = []  # one record per traced execution
        self.attached = False
        self._saved: list[tuple[object, str, object]] = []
        self._jvm_pid = self.jvm.java.lang.ProcessHandle.current().pid()

    # -- spans ---------------------------------------------------------
    def _new_span(self, name, kind, start, end, parent, attrs=None) -> Span:
        with self.lock:
            s = Span(self.next_id, name, kind, start, end, parent, self.exec_id, attrs or {})
            self.next_id += 1
            self.spans.append(s)
        return s

    def _stack(self) -> list[Span]:
        if not hasattr(self.local, "stack"):
            self.local.stack = []
        return self.local.stack

    @contextlib.contextmanager
    def span(self, name: str, kind: str):
        """A Python span; a thread with nothing open (a foreachBatch
        callback) hangs its spans under the innermost span open in the
        thread running the query."""
        stack = self._stack()
        opener = stack or self.main_stack
        parent = opener[-1].sid if opener else None
        s = self._new_span(name, kind, _now_ms(), 0.0, parent)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = _now_ms()
            stack.pop()

    def fs_call(self, name: str, fn):
        def timed(*args, **kwargs):
            attrs = {}
            if name.rsplit(".", 1)[-1] in MOVES and len(args) >= 2:
                attrs["files"], attrs["bytes"] = _tree_size(args[0])
                attrs["dest"] = os.fspath(args[1])
            if name == "os.walk":
                return self._timed_walk(fn(*args, **kwargs))
            with self.span(name, "fs") as s:
                s.attrs.update(attrs)
                return fn(*args, **kwargs)

        return timed

    def _timed_walk(self, walk):
        """``os.walk`` stays lazy, because callers prune ``dirs`` in place;
        its span starts at the call and lasts as long as its steps took."""
        opener = self._stack() or self.main_stack
        s = self._new_span("os.walk", "fs", _now_ms(), _now_ms(), opener[-1].sid if opener else None)
        while True:
            t = _now_ms()
            try:
                step = next(walk)
            except StopIteration:
                return
            finally:
                s.end += _now_ms() - t
            yield step

    def _wrap(self, short: str, fname: str, fn):
        sig = inspect.signature(fn)

        def wrapped(*args, **kwargs):
            if "out_path" in sig.parameters:  # an ingest's landing store
                landing = sig.bind_partial(*args, **kwargs).arguments.get("out_path")
                if landing:
                    self.landing_paths.add(os.fspath(landing))
            with self.span(f"{short}.{fname}", short):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        return wrapped

    # -- attach / detach -----------------------------------------------
    def attach(self) -> None:
        for short, modname in WRAPPED_MODULES.items():
            mod = importlib.import_module(modname)
            for fname, fn in vars(mod).items():
                if (not fname.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == modname):
                    self._patch(mod, fname, self._wrap(short, fname, fn))
            if getattr(mod, "os", None) is os:
                self._patch(mod, "os", _FsProxy(self, os, "os"))
            if getattr(mod, "shutil", None) is shutil:
                self._patch(mod, "shutil", _FsProxy(self, shutil, "shutil"))
        tracer = self
        for cls in (py4j.clientserver.ClientServerConnection, py4j.java_gateway.GatewayConnection):
            real = cls.send_command

            def counted(conn, command, *a, _real=real, **k):
                if getattr(tracer.local, "building", False):
                    tracer.local.py4j_calls += 1
                return _real(conn, command, *a, **k)

            self._patch(cls, "send_command", counted)
        self.sc.addSparkListener(self.listener)
        self.attached = True

    def _patch(self, owner, name, value) -> None:
        self._saved.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    def detach(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()
        self.sc.removeSparkListener(self.listener)
        for owner, name, value in reversed(self._saved):
            setattr(owner, name, value)
        self._saved.clear()
        self.attached = False

    # -- one query execution ------------------------------------------
    @contextlib.contextmanager
    def execution(self, query: str, pass_no: int):
        self.exec_id += 1
        rec = {"query": query, "pass": pass_no, "exec_id": self.exec_id}
        gc0 = self._gc_ms()
        self.main_stack = self._stack()
        with self.span(f"query.{query}", "query"):
            try:
                yield rec
            finally:
                self.main_stack = []
        rec["gc_ms"] = self._gc_ms() - gc0
        mem = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        rec["heap_mb"] = mem.getHeapMemoryUsage().getUsed() / MB
        infos = self.sc.getRDDStorageInfo()
        rec["pins_held"] = len(infos)
        rec["pinned_mb"] = sum(i.memSize() for i in infos) / MB
        rec["py_workers"] = _python_workers(self._jvm_pid)
        self.execs.append(rec)

    @contextlib.contextmanager
    def build(self):
        """The ``__spark_entry__`` call that builds the DataFrame; py4j
        round trips made by this thread inside it are counted."""
        self.local.building, self.local.py4j_calls = True, 0
        try:
            with self.span("entry.build", "entry") as s:
                yield
        finally:
            self.local.building = False
            s.attrs["py4j_calls"] = self.local.py4j_calls

    def _gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    # -- event log -----------------------------------------------------
    def finish(self) -> None:
        if self.attached:
            self.detach()
        self.listener.stop()
        for name in os.listdir(self.log_dir):
            with open(os.path.join(self.log_dir, name)) as f:
                self._ingest_events(json.loads(line) for line in f)

    def _python_parent(self, exec_id: int, t: float) -> int | None:
        best = None
        for s in self.py_by_exec.get(exec_id, ()):
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best.sid if best else None

    def _exec_at(self, t: float) -> int | None:
        for r in self.roots:
            if r.start <= t <= r.end:
                return r.exec_id
        return None

    def _ingest_events(self, events) -> None:
        self.roots = [s for s in self.spans if s.kind == "query"]
        self.py_by_exec: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            self.py_by_exec[s.exec_id].append(s)
        sql, jobs, stages, tasks, batches = {}, {}, {}, [], []
        plan_metrics: dict[int, tuple[str, str]] = {}  # accumulator id -> (node, metric)
        driver_accums: dict[int, float] = defaultdict(float)
        for e in events:
            ev = e["Event"]
            if ev == _SQL + "SparkListenerSQLExecutionStart":
                sql[e["executionId"]] = {
                    "start": e["time"], "end": e["time"], "plan": e["sparkPlanInfo"],
                    "root": e.get("rootExecutionId", e["executionId"]),
                }
                _plan_metrics(e["sparkPlanInfo"], plan_metrics)
            elif ev == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                if e["executionId"] in sql:
                    sql[e["executionId"]]["plan"] = e["sparkPlanInfo"]
                _plan_metrics(e["sparkPlanInfo"], plan_metrics)
            elif ev == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in sql:
                    sql[e["executionId"]]["end"] = e["time"]
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                for acc, val in e["accumUpdates"]:
                    driver_accums[acc] += val
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                xid = props.get("spark.sql.execution.id")
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "end": e["Submission Time"],
                    "sql": int(xid) if xid not in (None, "") else None,
                }
                for st in e["Stage IDs"]:
                    stages.setdefault(st, {"job": e["Job ID"]})
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = stages.setdefault(info["Stage ID"], {"job": None})
                st["start"] = info.get("Submission Time") or 0
                st["end"] = info.get("Completion Time") or st["start"]
                st["rdds"] = [(r["RDD ID"], r["Storage Level"]["Use Memory"]) for r in info["RDD Info"]]
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                tasks.append({
                    "stage": e["Stage ID"], "start": ti["Launch Time"], "end": ti["Finish Time"],
                    "run_ms": tm.get("Executor Run Time", 0),
                    "shuffle_w": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Disk Bytes Spilled", 0),
                    "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "output": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                    "accums": [(a["ID"], _num(a.get("Update"))) for a in ti.get("Accumulables", [])],
                })
            elif ev == _STREAM_PROGRESS:
                p = e["progress"]
                end = _iso_ms(p["timestamp"]) + p.get("batchDuration", 0)
                batches.append({
                    "start": _iso_ms(p["timestamp"]), "end": end,
                    "d": p.get("durationMs", {}), "state": p.get("stateOperators", []),
                })
        self._spark_spans(sql, jobs, stages, tasks, batches)
        self.sql, self.jobs, self.stages, self.tasks, self.batches = sql, jobs, stages, tasks, batches
        self.plan_metrics, self.driver_accums = plan_metrics, driver_accums

    def _spark_spans(self, sql, jobs, stages, tasks, batches) -> None:
        sql_span, job_span, stage_span = {}, {}, {}
        for xid, x in sql.items():
            ex = x["exec_id"] = self._exec_at(x["start"])
            if ex is None:
                continue
            self.exec_id = ex
            sql_span[xid] = self._new_span(f"sql.{xid}", "sql", x["start"], x["end"],
                                           self._python_parent(ex, x["start"]))
        for jid, j in jobs.items():
            ex = j["exec_id"] = self._exec_at(j["start"])
            if ex is None:
                continue
            self.exec_id = ex
            parent = sql_span[j["sql"]].sid if j["sql"] in sql_span else self._python_parent(ex, j["start"])
            job_span[jid] = self._new_span(f"job.{jid}", "job", j["start"], j["end"], parent)
        for sid, st in stages.items():
            if st.get("job") in job_span and "start" in st:
                self.exec_id = job_span[st["job"]].exec_id
                stage_span[sid] = self._new_span(f"stage.{sid}", "stage", st["start"], st["end"],
                                                 job_span[st["job"]].sid)
        for t in tasks:
            if t["stage"] in stage_span:
                self.exec_id = stage_span[t["stage"]].exec_id
                t["exec_id"] = self.exec_id
                self._new_span("task", "task", t["start"], t["end"], stage_span[t["stage"]].sid)
        for b in batches:
            ex = self._exec_at(b["start"])
            if ex is None:
                continue
            self.exec_id = ex
            b["exec_id"] = ex
            self._new_span("stream.batch", "batch", b["start"], b["end"], self._python_parent(ex, b["start"]))

    # -- per-layer metrics ---------------------------------------------
    def layer_metrics(self) -> dict[str, float]:
        """Per-pass totals (counts, bytes, seconds) or per-batch medians
        (streaming phases), each reduced to the median over traced passes."""
        self._by_id = {x.sid: x for x in self.spans}
        selfs = self_times(self.spans)
        pass_of = {r["exec_id"]: r["pass"] for r in self.execs}
        passes = sorted(set(pass_of.values()))
        per_pass: dict[str, dict[int, float]] = defaultdict(lambda: {p: 0.0 for p in passes})

        def add(metric, exec_id, value):
            if exec_id in pass_of:
                per_pass[metric][pass_of[exec_id]] += value

        for s in self.spans:
            if s.kind == "entry":
                add("entry.build_s", s.exec_id, selfs[s.sid] / 1000)
                add("entry.py4j_calls", s.exec_id, s.attrs.get("py4j_calls", 0))
            elif s.kind == "sinks" and "sinks" not in self._kinds_above(s):
                add("sources.sink_s", s.exec_id, (s.end - s.start) / 1000)
            elif s.kind == "fs" and "ingest" in self._kinds_above(s):
                add("streaming.store_fs_calls", s.exec_id, 1)
                add("streaming.store_fs_s", s.exec_id, (s.end - s.start) / 1000)
                add("streaming.store_files_written", s.exec_id, s.attrs.get("files", 0))
                add("ingest.bytes_moved", s.exec_id, s.attrs.get("bytes", 0))
                if any(s.attrs.get("dest", "").startswith(p) for p in self.landing_paths):
                    add("ingest.bytes_landed", s.exec_id, s.attrs["bytes"])

        first_job: dict[int, float] = {}
        by_exec_jobs: dict[int, list] = defaultdict(list)
        for j in self.jobs.values():
            if j.get("exec_id") is None:
                continue
            add("operators.jobs", j["exec_id"], 1)
            by_exec_jobs[j["exec_id"]].append((j["start"], j["end"]))
            if j["sql"] is not None:
                first_job[j["sql"]] = min(first_job.get(j["sql"], j["start"]), j["start"])
        for xid, x in self.sql.items():  # a nested execution ends its parent's planning too
            if x["root"] not in (None, xid):
                first_job[x["root"]] = min(first_job.get(x["root"], x["start"]), x["start"])
        for ex, iv in by_exec_jobs.items():
            covered, gaps = union_ms(iv)
            add("operators.busy_s", ex, covered / 1000)
            add("operators.gap_s", ex, gaps / 1000)
        for xid, x in self.sql.items():
            if x.get("exec_id") is not None:
                add("catalyst.plan_s", x["exec_id"], (first_job.get(xid, x["end"]) - x["start"]) / 1000)
        seen_rdds: set[int] = set()
        reads = 0
        for sid, st in self.stages.items():
            job = self.jobs.get(st.get("job"))
            if not job or job.get("exec_id") is None:
                continue
            add("operators.stages", job["exec_id"], 1)
            for rid, mem in st.get("rdds", []):
                if mem:
                    if rid in seen_rdds:
                        reads += 1
                    seen_rdds.add(rid)
        inside = defaultdict(list)  # exec -> [(start, end)] of outermost sink spans
        for s in self.spans:
            if s.kind == "sinks" and "sinks" not in self._kinds_above(s):
                inside[s.exec_id].append((s.start, s.end))
        python_accums = {a for a, (node, _m) in self.plan_metrics.items()
                         if any(k in node for k in PYTHON_NODES)}
        for t in self.tasks:
            ex = t.get("exec_id")
            if ex is None:
                continue
            add("operators.tasks", ex, 1)
            add("operators.task_s", ex, t["run_ms"] / 1000)
            add("operators.shuffle_mb", ex, t["shuffle_w"] / MB)
            add("operators.spill_mb", ex, t["spill"] / MB)
            add("sources.scan_mb", ex, t["input"] / MB)
            if any(a <= t["end"] <= b for a, b in inside[ex]):
                add("sources.sink_mb_written", ex, t["output"] / MB)
            for acc, upd in t["accums"]:
                if acc in python_accums:
                    metric = self.plan_metrics[acc][1]
                    if metric == "number of output rows":
                        add("transforms.arrow_rows", ex, upd)
                    elif "Python workers" in metric:
                        add("transforms.arrow_mb", ex, upd / MB)
        files_accums = {a for a, (_n, m) in self.plan_metrics.items() if m == "number of files read"}
        for xid, x in self.sql.items():
            if x.get("exec_id") is None:
                continue
            ids: dict[int, tuple[str, str]] = {}
            _plan_metrics(x["plan"], ids)
            add("sources.files_read", x["exec_id"],
                sum(self.driver_accums.get(a, 0) for a in ids if a in files_accums))
        for r in self.execs:
            add("jvm.gc_s", r["exec_id"], r["gc_ms"] / 1000)

        out = {m: statistics.median(v.values()) for m, v in per_pass.items() if passes}
        moved, landed = out.pop("ingest.bytes_moved", 0.0), out.pop("ingest.bytes_landed", 0.0)
        out["streaming.store_write_amp"] = moved / landed if landed else 0.0
        out["operators.pin_reuse_ratio"] = reads / len(seen_rdds) if seen_rdds else 0.0
        execs = self.execs
        out["operators.pins_held"] = statistics.mean(r["pins_held"] for r in execs) if execs else 0.0
        out["operators.pinned_mb"] = statistics.mean(r["pinned_mb"] for r in execs) if execs else 0.0
        out["transforms.py_workers"] = max((r["py_workers"] for r in execs), default=0)
        out["jvm.heap_mb"] = statistics.median(r["heap_mb"] for r in execs) if execs else 0.0
        out.update(self._stream_metrics(pass_of, passes))
        return out

    def _stream_metrics(self, pass_of: dict[int, int], passes: list[int]) -> dict[str, float]:
        bs = [b for b in self.batches if b.get("exec_id") is not None]
        per_pass_batches = defaultdict(int)
        for b in bs:
            per_pass_batches[pass_of.get(b["exec_id"])] += 1

        def med(values):
            values = list(values)
            return statistics.median(values) if values else 0.0

        return {
            "streaming.batches": med(per_pass_batches.get(p, 0) for p in passes),
            "streaming.trigger_s": med(b["d"].get("triggerExecution", 0) / 1000 for b in bs),
            "streaming.add_batch_s": med(b["d"].get("addBatch", 0) / 1000 for b in bs),
            "streaming.query_planning_s": med(b["d"].get("queryPlanning", 0) / 1000 for b in bs),
            "streaming.wal_commit_s": med(b["d"].get("walCommit", 0) / 1000 for b in bs),
            "streaming.latest_offset_s": med(b["d"].get("latestOffset", 0) / 1000 for b in bs),
            "streaming.state_rows": med(sum(o.get("numRowsTotal", 0) for o in b["state"]) for b in bs),
            "streaming.state_mb": med(sum(o.get("memoryUsedBytes", 0) for o in b["state"]) / MB for b in bs),
            "streaming.state_commit_s": med(sum(o.get("commitTimeMs", 0) for o in b["state"]) / 1000 for b in bs),
        }

    def _kinds_above(self, s: Span) -> set[str]:
        """Kinds of the span's ancestors."""
        kinds, p = set(), s.parent
        while p is not None:
            kinds.add(self._by_id[p].kind)
            p = self._by_id[p].parent
        return kinds


def _plan_metrics(info: dict, out: dict[int, tuple[str, str]]) -> None:
    """Collect ``accumulator id -> (node name, metric name)`` from a
    ``sparkPlanInfo`` tree."""
    stack = [info]
    while stack:
        node = stack.pop()
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (node.get("nodeName", ""), m["name"])
        stack.extend(node.get("children", []))


def _num(v) -> float:
    """Accumulator updates arrive as numbers or numeric strings."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _iso_ms(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _tree_size(path) -> tuple[int, int]:
    """(files, bytes) under ``path`` before it is moved; (0, 0) if absent."""
    path = os.fspath(path)
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _python_workers(jvm_pid: int) -> int:
    """Python worker processes (``pyspark.daemon`` / ``pyspark.worker``)
    alive under the JVM right now."""
    parents, cmd = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd[int(pid)] = f.read()
        except OSError:
            continue

    def under_jvm(pid):
        seen = 0
        while pid in parents and seen < 64:
            pid = parents[pid]
            if pid == jvm_pid:
                return True
            seen += 1
        return False

    return sum(1 for p, c in cmd.items() if b"pyspark" in c and under_jvm(p))
