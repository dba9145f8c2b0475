"""Spans around calls into kgspark's modules, for the traced run.

A traced op runs the program's own public entry points unchanged. Before it
starts, ``Tracer.wrap`` replaces each named layer function, in every kgspark
module that holds a reference to it, with a wrapper that

- opens a span ``<module>.<function>`` (name, start, end, parent, trace id);
- tags every Spark job the call submits with ``setJobDescription(<span>)``;
- materializes the DataFrames it returns (``localCheckpoint(eager=True)``),
  so the layer's lazy work runs inside its own span and not in whichever
  later layer first triggers an action.

The wrappers change no arguments and no call order, and materialized frames
hold the same rows, so the traced build must produce the same edges as an
untraced one; the benchmark checks that. After the run, task time, executor
CPU, GC and shuffle bytes are read back from the Spark event log by job
description; Python-worker CPU, which Spark's executor-CPU metric does not
see, comes from ``/proc``. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import time
from pathlib import Path

from pyspark.sql import DataFrame

import procstats

COUNT_JOB = "perfbench.count"
EVENT_FIELDS = ("jobs", "tasks", "task_s", "jvm_cpu_s", "gc_s",
                "shuffle_write_bytes")


def _python_pids() -> list[int]:
    out = []
    for pid in procstats.descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() != "java":
                    out.append(pid)
        except OSError:
            continue
    return out


def _dir_files(path: str | None) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's ``_SUCCESS``/``.crc``
    bookkeeping files are not counted."""
    n = size = 0
    if path is None or not os.path.isdir(path):
        return 0, 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            if name.startswith(("_", ".")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def scan_stats(df: DataFrame) -> tuple[int, int]:
    """(partitions read, partitions in the table) summed over the file scans
    of ``df``'s executed plan, from the scans' own metrics. A reused
    exchange is a leaf, so its scans count once, where they ran."""
    read = total = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        if cls == "FileSourceScanExec":
            m = node.metrics().get("numPartitions")
            if m.isDefined():
                read += int(m.get().value())
                spec = node.relation().location().partitionSpec()
                total += int(spec.partitions().size())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return read, total


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        # id(frame) -> (frame, rows) of every materialized result, for rows_in;
        # the frame is held so that its id is not reused
        self._rows: dict[int, tuple[DataFrame, int]] = {}

    # -- spans ---------------------------------------------------------------
    def _open(self, name: str) -> dict:
        span = {"id": len(self.spans), "name": name, "trace_id": self.trace_id,
                "parent": self._stack[-1]["id"] if self._stack else None,
                "start": time.time(), "end": None,
                "py_cpu0": procstats.cpu_by_pid(_python_pids())}
        self.spans.append(span)
        self._stack.append(span)
        self.spark.sparkContext.setJobDescription(name)
        return span

    def _close(self, span: dict) -> None:
        # per process, so that a worker that ends within the span, whose
        # time then moves to a parent this sum may not count, takes no time
        # away from the others; its own time since the start is lost
        cpu0 = span.pop("py_cpu0")
        span["python_cpu_s"] = sum(
            cpu - cpu0.get(pid, 0.0)
            for pid, cpu in procstats.cpu_by_pid(_python_pids()).items())
        span["end"] = time.time()
        self._stack.pop()
        parent = self._stack[-1]["name"] if self._stack else None
        self.spark.sparkContext.setJobDescription(parent)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own calls."""
        span = self._open(name)
        try:
            yield span
        finally:
            self._close(span)

    def record(self, name: str, start: float, end: float) -> None:
        """A span for a call made before the tracer existed."""
        self.spans.append({"id": len(self.spans), "name": name,
                           "trace_id": self.trace_id, "parent": None,
                           "start": start, "end": end, "python_cpu_s": 0.0})

    # -- materialization -----------------------------------------------------
    def _count(self, df: DataFrame) -> int:
        sc = self.spark.sparkContext
        sc.setJobDescription(COUNT_JOB)
        try:
            return df.count()
        finally:
            sc.setJobDescription(self._stack[-1]["name"] if self._stack else None)

    def _materialize(self, value, span: dict, tables=None, scans: bool = False):
        if isinstance(value, DataFrame):
            done = value.localCheckpoint(eager=True)
            rows = self._count(done)
            self._rows[id(done)] = (done, rows)
            span["rows_out"] = span.get("rows_out", 0) + rows
            if scans:
                read, total = scan_stats(value)
                span["parts_read"] = span.get("parts_read", 0) + read
                span["parts_total"] = span.get("parts_total", 0) + total
            return done
        if isinstance(value, tuple):
            return tuple(self._materialize(v, span, scans=scans) for v in value)
        if isinstance(value, dict) and tables is not None:
            return {k: (self._materialize(v, span) if k in tables else v)
                    for k, v in value.items()}
        return value

    # -- wrapping ------------------------------------------------------------
    def wrap(self, module, func: str, tables=None, out_dir_arg: str | None = None,
             scans: bool = False, gens=None) -> None:
        """Wrap ``module.func`` wherever a kgspark module binds it.

        ``tables``: for a dict result, the keys to materialize.
        ``out_dir_arg``: name of the argument giving the directory the call
        writes; the files and bytes it adds there are counted.
        ``scans``: record partitions read against the total.
        ``gens``: callable(path) -> committed generation after the call."""
        orig = getattr(module, func)
        sig = inspect.signature(orig)
        name = f"{module.__name__.rsplit('.', 1)[-1]}.{func}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer._open(name)
            try:
                span["rows_in"] = sum(tracer._rows.get(id(a), (a, 0))[1]
                                      for a in args if isinstance(a, DataFrame))
                out_dir = (sig.bind(*args, **kwargs).arguments[out_dir_arg]
                           if out_dir_arg is not None else None)
                before = _dir_files(out_dir)
                result = tracer._materialize(orig(*args, **kwargs), span,
                                             tables, scans)
                if out_dir is not None:
                    after = _dir_files(out_dir)
                    span["files_written"] = after[0] - before[0]
                    span["bytes_written"] = after[1] - before[1]
                    if gens is not None:
                        span["generation"] = gens(out_dir)
                return result
            finally:
                tracer._close(span)

        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith("kgspark") and getattr(mod, func, None) is orig:
                setattr(mod, func, wrapper)
                self._patched.append((mod, func, orig))

    def wrap_method(self, cls, method: str, name: str, parent: str,
                    when) -> None:
        """Span ``name`` around the ``cls.method`` calls made directly in
        span ``parent`` whose receiver passes ``when``: for a pass that runs
        in a method call on a frame, not in a kgspark function of its own."""
        orig = getattr(cls, method)
        tracer = self

        @functools.wraps(orig)
        def wrapper(obj, *args, **kwargs):
            if not (tracer._stack and tracer._stack[-1]["name"] == parent
                    and when(obj)):
                return orig(obj, *args, **kwargs)
            with tracer.span(name) as span:
                result = orig(obj, *args, **kwargs)
                if isinstance(result, DataFrame):
                    rows = tracer._count(result)
                    tracer._rows[id(result)] = (result, rows)
                    span["rows_out"] = span.get("rows_out", 0) + rows
                return result

        setattr(cls, method, wrapper)
        self._patched.append((cls, method, orig))

    def restore(self) -> None:
        for mod, func, orig in reversed(self._patched):
            setattr(mod, func, orig)
        self._patched.clear()

    # -- event log -----------------------------------------------------------
    @staticmethod
    def read_event_log(log_dir: str, stream_span: str | None = None
                       ) -> dict[str, dict]:
        """Per job description: jobs, tasks, task seconds, executor CPU
        seconds, GC seconds, shuffle bytes written. Jobs a streaming query
        runs outside any span carry the query's batch description; they
        count to ``stream_span``."""
        files = sorted(Path(log_dir).rglob("events_*"))
        stage_desc: dict[int, str] = {}
        out: dict[str, dict] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        desc = (ev.get("Properties") or {}).get(
                            "spark.job.description") or "(untagged)"
                        if stream_span and "\nrunId = " in desc:
                            desc = stream_span
                        for sid in ev["Stage IDs"]:
                            stage_desc.setdefault(sid, desc)
                        out.setdefault(desc, dict.fromkeys(EVENT_FIELDS, 0))[
                            "jobs"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        desc = stage_desc.get(ev["Stage ID"], "(untagged)")
                        m = ev.get("Task Metrics") or {}
                        agg = out.setdefault(desc, dict.fromkeys(EVENT_FIELDS, 0))
                        agg["tasks"] += 1
                        agg["task_s"] += m.get("Executor Run Time", 0) / 1e3
                        agg["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        agg["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        agg["shuffle_write_bytes"] += (m.get(
                            "Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
        return out

    def layers(self, events: dict[str, dict]) -> dict[str, dict]:
        """Per span name, summed over its instances: self wall seconds (span
        minus its children), inclusive wall, the event-log figures of the
        jobs tagged with the name, self Python CPU, rows and counters."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, dict] = {}
        for s in self.spans:
            ch = kids.get(s["id"], [])
            wall = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {
                "calls": 0, "wall_s": 0.0, "self_wall_s": 0.0,
                "python_cpu_s": 0.0, "rows_in": 0, "rows_out": 0})
            agg["calls"] += 1
            agg["wall_s"] += wall
            agg["self_wall_s"] += wall - sum(c["end"] - c["start"] for c in ch)
            agg["python_cpu_s"] += max(0.0, s["python_cpu_s"] - sum(
                c["python_cpu_s"] for c in ch))
            for key in ("rows_in", "rows_out", "files_written", "bytes_written",
                        "parts_read", "parts_total"):
                if key in s:
                    agg[key] = agg.get(key, 0) + s[key]
            if "generation" in s:
                agg["generation"] = s["generation"]
        for name, agg in out.items():
            agg.update(events.get(name, dict.fromkeys(EVENT_FIELDS, 0)))
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.write_text(json.dumps({"trace_id": self.trace_id,
                                    "spans": self.spans, **extra}, indent=1))
