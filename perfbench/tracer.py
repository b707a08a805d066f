"""Traced run: spans around each public library call, Spark work per span.

The tracer wraps the library's public entry points from outside (the library
itself is unchanged) and keeps spans in memory. Each span brackets its call
in the Spark job stream: on entry it sets a thread-local Spark property to
the span's path (its id and its ancestors' ids), and on exit it restores the
previous value. Every job and stage submitted from that thread while the
call runs carries the path. Thread pools started inside a call inherit the
caller's path, because the tracer also wraps ``ThreadPoolExecutor.submit``;
Spark job groups are not used, since threads started by the library drop
them.

After the session stops, the event log is read once and each job, stage and
task is charged to every span on its path, which gives exact job, stage and
task counts per call and the times below.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

LABEL = "perfbench.span"

# (module path, attribute, span name); attributes with a dot are methods
TRACED = (
    ("hive_io_experimental_spark.session", "get_spark", "session.get_spark"),
    ("hive_io_experimental_spark.catalog", "Catalog.add_partition",
     "catalog.add_partition"),
    ("hive_io_experimental_spark.catalog", "Catalog.drop_partition",
     "catalog.drop_partition"),
    ("hive_io_experimental_spark.catalog", "Catalog.partition_exists",
     "catalog.partition_exists"),
    ("hive_io_experimental_spark.catalog", "Catalog.commit_snapshot",
     "catalog.commit_snapshot"),
    ("hive_io_experimental_spark.input", "HiveInput.read_table",
     "input.read_table"),
    ("hive_io_experimental_spark.output", "HiveOutput.write_table",
     "output.write_table"),
    ("hive_io_experimental_spark.output", "HiveOutput.write_dynamic",
     "output.write_dynamic"),
    ("hive_io_experimental_spark.analyze", "analyze_table",
     "analyze.analyze_table"),
    ("hive_io_experimental_spark.operators.similarity", "ivf_pq_build_index",
     "similarity.ivf_pq_build_index"),
    ("hive_io_experimental_spark.operators.similarity", "ivf_pq_query_index",
     "similarity.ivf_pq_query_index"),
    ("hive_io_experimental_spark.operators.similarity",
     "ivf_pq_append_to_index", "similarity.ivf_pq_append_to_index"),
    ("hive_io_experimental_spark.operators.ingestion",
     "build_corpus_artifacts", "ingestion.build_corpus_artifacts"),
    ("hive_io_experimental_spark.operators.ingestion", "ingest_batch",
     "ingestion.ingest_batch"),
    ("hive_io_experimental_spark.operators.ingestion", "ingest_batch_neardups",
     "ingestion.ingest_batch_neardups"),
    ("hive_io_experimental_spark.operators.ingestion", "append_to_artifacts",
     "ingestion.append_to_artifacts"),
)

# writes whose new files under the target table are counted
WRITE_CALLS = {"output.write_table", "output.write_dynamic"}

# physical operators whose tasks run Python workers
PYTHON_SCOPES = ("Python", "Pandas", "InArrow")


@dataclass
class Span:
    sid: int
    name: str
    path: str
    start: float = 0.0
    end: float = 0.0
    files_written: int = 0
    bytes_written: int = 0
    children: list = field(default_factory=list)


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class Tracer:
    def __init__(self) -> None:
        self.spans: dict[int, Span] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list = []
        self.sc = None
        # seconds spent in the tracer's own hooks (labels, file listings)
        self.overhead_s = 0.0

    # -- span bookkeeping ----------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_label(self, path: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(LABEL, path)

    def _charge(self, since: float) -> None:
        with self._lock:
            self.overhead_s += time.perf_counter() - since

    def begin(self, name: str) -> Span:
        t = time.perf_counter()
        ppath = self.current_path()
        with self._lock:
            sid = next(self._ids)
            span = Span(sid, name, f"{ppath}/{sid}" if ppath else str(sid))
            self.spans[sid] = span
            if ppath:
                self.spans[int(ppath.rsplit("/", 1)[-1])].children.append(sid)
        self._stack().append(sid)
        self._set_label(span.path)
        self._charge(t)
        span.start = time.time()
        return span

    def finish(self, span: Span) -> None:
        span.end = time.time()
        t = time.perf_counter()
        self._stack().pop()
        self._set_label(self.current_path() or None)
        self._charge(t)

    def current_path(self) -> str:
        stack = self._stack()
        if stack:
            return self.spans[stack[-1]].path
        return getattr(self._local, "inherited", "")

    # -- wrapping the library --------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            t = time.perf_counter()
            target = None
            if name in WRITE_CALLS:
                target = tracer._write_target(name, args, kwargs)
            before = _files(target) if target else {}
            tracer._charge(t)
            span = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.finish(span)
                if target:
                    t = time.perf_counter()
                    after = _files(target)
                    new = [p for p in after if p not in before
                           and not p.endswith(".crc")]
                    span.files_written = len(new)
                    span.bytes_written = sum(after[p] for p in new)
                    tracer._charge(t)
                if name == "session.get_spark":
                    from pyspark import SparkContext

                    tracer.sc = SparkContext._active_spark_context

        traced.__wrapped__ = fn
        return traced

    @staticmethod
    def _write_target(name: str, args, kwargs) -> str:
        """The table directory a write_table / write_dynamic call writes."""
        out = args[0]
        if name == "output.write_table":
            table = (args[1] if len(args) > 1 else kwargs["spec"]).table
        else:
            table = args[1] if len(args) > 1 else kwargs["table"]
        return out.catalog.table_location(table)

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in TRACED:
            mod = importlib.import_module(mod_name)
            owner, _, meth = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = getattr(holder, meth)
            setattr(holder, meth, self._wrap(orig, name))
            self._restore.append((holder, meth, orig))
        tracer = self
        orig_submit = ThreadPoolExecutor.submit

        def submit(pool, fn, *args, **kwargs):
            path = tracer.current_path()
            if not path:
                return orig_submit(pool, fn, *args, **kwargs)

            def inherit(*a, **kw):
                tracer._local.inherited = path
                tracer._set_label(path)
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._local.inherited = ""
                    tracer._set_label(None)

            return orig_submit(pool, inherit, *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        self._restore.append((ThreadPoolExecutor, "submit", orig_submit))

    def uninstall(self) -> None:
        for holder, meth, orig in reversed(self._restore):
            setattr(holder, meth, orig)
        self._restore.clear()
        self.sc = None


# --------------------------------------------------------------------------
# event log -> per-span Spark work


def _union(intervals: list[tuple[float, float]]) -> float:
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


def _overlap(intervals: list[tuple[float, float]]) -> float:
    """Time during which two or more of the intervals are open."""
    edges = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    total, depth, last = 0.0, 0, None
    for t, d in edges:
        if depth >= 2 and last is not None:
            total += t - last
        depth += d
        last = t
    return total


@dataclass
class Work:
    jobs: list = field(default_factory=list)      # (submit_s, end_s)
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    python_task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0


def _event_files(log_dir: str) -> list[str]:
    """Event log files in write order; a rolling log is a directory of
    ``events_<n>_<app>`` files next to an ``appstatus`` marker."""
    found = []
    for root, _dirs, files in os.walk(log_dir):
        for name in files:
            if name.startswith("appstatus") or name.endswith(".crc"):
                continue
            n = name.split("_")[1] if name.startswith("events_") else "0"
            found.append((root, int(n) if n.isdigit() else 0,
                          os.path.join(root, name)))
    return [p for *_key, p in sorted(found)]


def read_event_log(log_dir: str) -> tuple[dict[str, Work], dict[str, float]]:
    """Spark work charged to each span path element (span id as str), and
    the session's first job and first Python/Arrow stage durations."""
    jobs: dict[int, dict] = {}
    stage_label: dict[tuple, str] = {}
    stage_python: dict[tuple, bool] = {}
    work: dict[str, Work] = {}
    first_job = first_py = None  # (id or submit time, duration)

    def charge(label: str | None) -> list[Work]:
        if not label:
            return []
        return [work.setdefault(sid, Work()) for sid in label.split("/")]

    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    label = (e.get("Properties") or {}).get(LABEL)
                    jobs[e["Job ID"]] = {
                        "label": label, "start": e["Submission Time"] / 1e3,
                    }
                elif ev == "SparkListenerJobEnd":
                    j = jobs.get(e["Job ID"])
                    if j is not None:
                        span = (j["start"], e["Completion Time"] / 1e3)
                        for w in charge(j["label"]):
                            w.jobs.append(span)
                        if first_job is None or e["Job ID"] < first_job[0]:
                            first_job = (e["Job ID"], span[1] - span[0])
                elif ev == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    label = (e.get("Properties") or {}).get(LABEL)
                    stage_label[key] = label
                    scopes = " ".join(
                        str(r.get("Scope", "")) + " " + str(r.get("Name", ""))
                        for r in info.get("RDD Info", [])
                    )
                    stage_python[key] = any(p in scopes for p in PYTHON_SCOPES)
                    for w in charge(label):
                        w.stages += 1
                elif ev == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    key = (info["Stage ID"], info["Stage Attempt ID"])
                    t0, t1 = info.get("Submission Time"), info.get(
                        "Completion Time")
                    if stage_python.get(key) and t0 and t1 and (
                        first_py is None or t0 < first_py[0]
                    ):
                        first_py = (t0, (t1 - t0) / 1e3)
                elif ev == "SparkListenerTaskEnd":
                    key = (e["Stage ID"], e["Stage Attempt ID"])
                    m = e.get("Task Metrics") or {}
                    run_s = m.get("Executor Run Time", 0) / 1e3
                    gc_s = m.get("JVM GC Time", 0) / 1e3
                    shuf = (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for w in charge(stage_label.get(key)):
                        w.tasks += 1
                        w.task_s += run_s
                        w.gc_s += gc_s
                        w.shuffle_bytes += shuf
                        if stage_python.get(key):
                            w.python_task_s += run_s
    firsts = {
        "session.first_job_s": first_job[1] if first_job else 0.0,
        "session.first_arrow_stage_s": first_py[1] if first_py else 0.0,
    }
    return work, firsts


def per_call(tracer: Tracer, work: dict[str, Work]) -> dict[str, dict]:
    """Per-call counters: ``calls`` is a total, every other counter is a
    mean per call."""
    out: dict[str, dict] = {}
    for span in tracer.spans.values():
        w = work.get(str(span.sid), Work())
        busy = span.end - span.start
        kids = [(tracer.spans[c].start, tracer.spans[c].end)
                for c in span.children]
        clipped = [(max(s, span.start), min(e, span.end))
                   for s, e in w.jobs if e > span.start and s < span.end]
        row = out.setdefault(span.name, {
            "calls": 0, "busy_s": 0.0, "self_s": 0.0, "jobs": 0,
            "stages": 0, "tasks": 0, "driver_s": 0.0, "task_s": 0.0,
            "python_task_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0,
            "overlap_s": 0.0, "files_written": 0, "bytes_written": 0,
        })
        row["calls"] += 1
        row["busy_s"] += busy
        row["self_s"] += busy - _union(kids)
        row["jobs"] += len(w.jobs)
        row["stages"] += w.stages
        row["tasks"] += w.tasks
        row["driver_s"] += busy - _union(clipped)
        row["task_s"] += w.task_s
        row["python_task_s"] += w.python_task_s
        row["gc_s"] += w.gc_s
        row["shuffle_mb"] += w.shuffle_bytes / 1e6
        row["overlap_s"] += _overlap(clipped)
        row["files_written"] += span.files_written
        row["bytes_written"] += span.bytes_written
    for row in out.values():
        n = row["calls"]
        for k in row:
            if k != "calls":
                row[k] = row[k] / n
    return out
