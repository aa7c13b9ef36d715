"""Spans around the calls into each layer, kept in memory and written out
when the run ends.

A span records its name, start, end, thread and parent. Spans opened on
a worker thread with no open span of its own (the ingest engine's
per-table pool, a streaming ``foreachBatch`` callback) take the main
thread's innermost open span as parent. Each span sets the Spark job
group of its thread to its own id, so status-store job counters can be
attributed to the innermost enclosing span; a job whose group is not a
span id (a streaming query's own group) falls back to the deepest span
open when it was submitted.

Tracing is installed only for ``--trace 1`` runs. The end-to-end metrics
come from untraced runs.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from . import statusstore

PKG = "data_ingestion_from_multiple_directories_linux_spark"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    thread: int
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span: its duration minus the part of that interval
    its child spans cover (children may overlap one another)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.t0, s.t1))
    return {s.sid: s.wall - covered(kids.get(s.sid, []), s.t0, s.t1) for s in spans}


class Tracer:
    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread().ident
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def _open(self, name: str, attrs: dict) -> tuple[Span, str | None]:
        st = self._stack()
        parent = st[-1] if st else (self._main_stack[-1] if self._main_stack else None)
        s = Span(next(self._ids), name, parent.sid if parent else None,
                 threading.get_ident(), time.time(), attrs=dict(attrs))
        with self._lock:
            self.spans.append(s)
        st.append(s)
        prev = None
        if self.spark is not None:
            sc = self.spark.sparkContext
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", f"span-{s.sid}")
        return s, prev

    def _close(self, s: Span, prev: str | None) -> None:
        s.t1 = time.time()
        self._stack().pop()
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", prev)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` run inside a span; ``on_result(span, args, result)``
        may record counts."""

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, out)
                return out

        return inner

    # -- attribution ----------------------------------------------------

    def attribute_jobs(self, jobs: list[statusstore.JobRecord]) -> int:
        """Add each job's counters to its span; returns jobs attributed."""
        by_id = {s.sid: s for s in self.spans}
        depth: dict[int, int] = {}

        def d(s: Span) -> int:
            if s.sid not in depth:
                depth[s.sid] = 0 if s.parent is None else 1 + d(by_id[s.parent])
            return depth[s.sid]

        n = 0
        for j in jobs:
            target = None
            if j.group and j.group.startswith("span-"):
                target = by_id.get(int(j.group[5:]))
            if target is None and j.submitted_s is not None:
                open_ = [s for s in self.spans if s.t0 <= j.submitted_s <= s.t1]
                if open_:
                    target = max(open_, key=d)
            if target is None:
                continue
            n += 1
            first = target.attrs.get("first_job")
            if first is None or j.job_id < first[0]:
                target.attrs["first_job"] = (j.job_id, j.first_stage_tasks)
            target.spark["jobs"] = target.spark.get("jobs", 0) + 1
            for k, v in j.counters.items():
                target.spark[k] = target.spark.get(k, 0) + v
        return n

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent,
                    "thread": s.thread, "t0": s.t0, "t1": s.t1,
                    "wall_s": s.wall, "self_s": selfs[s.sid],
                    "attrs": s.attrs, "spark": s.spark,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.s, self.prev = self.tracer._open(self.name, self.attrs)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s, self.prev)


class NullTracer:
    """Untraced runs: spans cost one context-manager call."""

    def span(self, name: str, **attrs):
        return _NULL


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc) -> None:
        return None


_NULL = _Null()


# ----------------------------------------------------------------------
# wrappers around the package's layer calls
# ----------------------------------------------------------------------


def _replace_everywhere(original, replacement) -> int:
    """Rebind every package module attribute that is ``original`` (the
    ``from x import f`` copies included). Returns the number rebound."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == PKG or name.startswith(PKG + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def _dir_stats(path: str) -> tuple[int, int]:
    import os

    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return files, size


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points the benchmark cannot call itself."""
    import importlib

    catalog = importlib.import_module(f"{PKG}.catalog")
    json_dir = importlib.import_module(f"{PKG}.sources.json_dir")
    ts_mod = importlib.import_module(f"{PKG}.sources.table_store")
    engine = importlib.import_module(f"{PKG}.ingest.engine")

    _replace_everywhere(catalog.load_table, tracer.wrap("catalog.load_table", catalog.load_table))
    _replace_everywhere(
        json_dir.discover_files,
        tracer.wrap(
            "json_dir.discover", json_dir.discover_files,
            lambda s, a, out: s.attrs.update(files_listed=len(out)),
        ),
    )

    audit_tables = {engine.INGESTION_LOG, engine.STG_MONITORING, engine.PIPELINE_LOG}
    TableStore = ts_mod.TableStore
    for meth in ("append", "overwrite"):
        orig = getattr(TableStore, meth)

        def make(orig=orig, meth=meth):
            @functools.wraps(orig)
            def inner(self, name, df, *args, **kwargs):
                label = "engine.audit" if name in audit_tables else f"table_store.{meth}"
                path = self.path(name)
                before = _dir_stats(path) if meth == "append" else (0, 0)
                with tracer.span(label, table=name) as s:
                    out = orig(self, name, df, *args, **kwargs)
                after = _dir_stats(path)
                s.attrs["files_written"] = after[0] - before[0]
                s.attrs["bytes_written"] = after[1] - before[1]
                return out

            return inner

        setattr(TableStore, meth, make())

    Engine = engine.IngestionEngine
    Engine._select_work = tracer.wrap(
        "engine.select_work", Engine._select_work,
        lambda s, a, out: s.attrs.update(files_selected=len(out[0])),
    )
    Engine._ingest_table = tracer.wrap("engine.read_cleanse", Engine._ingest_table)
    Engine._purge_file_rows = tracer.wrap("engine.purge", Engine._purge_file_rows)
