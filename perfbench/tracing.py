"""Spans recorded from outside the engine, and the Spark-side numbers
folded from Spark's event log.

Nothing here changes product code. ``Tracer.install`` replaces a layer's
public functions, in every module of the package that bound them, with
wrappers that record a span around each call; ``Tracer.uninstall`` puts
the originals back. The Spark engine's own work (jobs, stages, task
metrics) comes from the event log the benchmark turns on through session
config, attributed to a query by job submission time.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "hubsit_health_analytics_etl_spark"

# span name → (module, attribute): the public functions of each layer
# whose calls are traced
LAYER_FUNCTIONS = {
    "sources.load_table": ("sources.parquet", "load_table"),
    "sources.read_csv_tolerant": ("sources.csv_tolerant", "read_csv_tolerant"),
    "sources.write_parquet": ("sources.sinks", "write_parquet"),
    "sources.write_csv_pbi": ("sources.sinks", "write_csv_pbi"),
    "operators.concurrency.ckpt_wave": ("operators.concurrency", "ckpt_wave"),
    "operators.concurrency.run_concurrent": ("operators.concurrency", "run_concurrent"),
    "etl.run_pipeline": ("etl.appointments", "run_pipeline"),
    "etl.preprocess": ("etl.appointments", "preprocess"),
    "etl.gerar_tabelas": ("etl.appointments", "gerar_tabelas"),
    "etl.relatorio": ("etl.relatorio", "gerar_relatorio_completo"),
}
WAVE_SPANS = ("operators.concurrency.ckpt_wave", "operators.concurrency.run_concurrent")
SINK_SPANS = ("sources.write_parquet", "sources.write_csv_pbi")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Spans nest per thread; a span opened on a
    thread with no open span (a wave's worker thread) takes the span that
    spawned the thread as parent, else the current operation's root."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: int | None = None
        self._op = ""
        self._patched: list[tuple[object, str, object]] = []

    # -- span bookkeeping -------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span:
        st = self._stack()
        parent = st[-1] if st else self._root
        with self._lock:
            sp = Span(len(self.spans), name, parent, self._op, time.time(), attrs=attrs)
            self.spans.append(sp)
        st.append(sp.id)
        if name == "op":
            self._root, self._op = sp.id, attrs.get("query", "")
            sp.op = self._op
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] == sp.id:
            st.pop()
        if sp.name == "op":
            self._root = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- patching ---------------------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                if name == "operators.concurrency.run_concurrent":
                    sp.attrs["branches"] = len(args)
                    args = tuple(tracer._adopt(sp.id, t) for t in args)
                elif name == "operators.concurrency.ckpt_wave":
                    sp.attrs["branches"] = len(args)
                out = fn(*args, **kwargs)
            if name in SINK_SPANS:
                sp.attrs["files"], sp.attrs["bytes"] = data_files(
                    kwargs["path"] if "path" in kwargs else args[1]
                )
            return out

        return wrapper

    def _adopt(self, parent: int, thunk):
        """Run ``thunk`` with ``parent`` as the open span on whatever
        thread the wave runs it on."""
        tracer = self

        @functools.wraps(thunk)
        def run():
            st = tracer._stack()
            st.append(parent)
            try:
                return thunk()
            finally:
                st.pop()

        return run

    def install(self) -> None:
        """Swap every traced function, in each package module that bound
        it, for its span-recording wrapper."""
        for name, (mod, attr) in LAYER_FUNCTIONS.items():
            original = getattr(importlib.import_module(f"{PACKAGE}.{mod}"), attr)
            wrapper = self._wrap(name, original)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                for k, v in list(vars(m).items()):
                    if v is original:
                        setattr(m, k, wrapper)
                        self._patched.append((m, k, original))

    def uninstall(self) -> None:
        for m, k, original in reversed(self._patched):
            setattr(m, k, original)
        self._patched.clear()


def data_files(path: str) -> tuple[int, int]:
    """(count, bytes) of the data files a sink left under local
    ``path``; Spark's markers and checksums are not counted."""
    path = path[len("file:"):] if path.startswith("file:") else path
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not (f.startswith(("_", ".")) or f.endswith(".crc")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every closed span: the part of its interval not
    covered by an open child. Where concurrent spans are leaves at the
    same instant (wave branches), that instant is shared equally among
    them, so the self times of all spans add up to the time covered by
    the root spans, never more, and none is negative."""
    closed = [s for s in spans if s.end >= s.start > 0]
    events = []
    for s in closed:
        events.append((s.start, 1, s.id))
        events.append((s.end, 0, s.id))
    events.sort()
    by_id = {s.id: s for s in closed}
    active: set[int] = set()
    active_children: dict[int, int] = {}
    out = {s.id: 0.0 for s in closed}
    last = None
    for t, kind, sid in events:
        if last is not None and t > last and active:
            leaves = [a for a in active if active_children.get(a, 0) == 0]
            share = (t - last) / len(leaves)
            for a in leaves:
                out[a] += share
        last = t
        parent = by_id[sid].parent
        if kind == 1:
            active.add(sid)
            if parent in by_id:
                active_children[parent] = active_children.get(parent, 0) + 1
        else:
            active.discard(sid)
            if parent in by_id:
                active_children[parent] -= 1
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


# -- Spark's event log -----------------------------------------------------
@dataclass
class Job:
    id: int
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


def read_event_log(log_dir: str, app_id: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """Jobs and per-stage folded task metrics from application
    ``app_id``'s event log under ``log_dir``. Stages that never ran a
    task are skipped stages."""
    files = glob.glob(f"{log_dir}/{app_id}*")
    if len(files) != 1:
        raise RuntimeError(f"expected one event log for {app_id} in {log_dir}, found {files}")
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _empty_stage())
                _fold_task(st, ev.get("Task Metrics") or {})
    return jobs, stages


def _empty_stage() -> dict:
    return dict(
        tasks=0, executor_run_ms=0, executor_cpu_ms=0.0, gc_ms=0,
        shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
        peak_exec_mem_bytes=0,
    )


def _fold_task(st: dict, m: dict) -> None:
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    st["tasks"] += 1
    st["executor_run_ms"] += m.get("Executor Run Time", 0)
    st["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    st["gc_ms"] += m.get("JVM GC Time", 0)
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["peak_exec_mem_bytes"] = max(st["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
