"""Spans, counters and resource probes recorded from outside the program.

The program's source is not touched: :class:`Patcher` wraps the public
functions of each layer and installs the wrapper on every module that
imported the function by name (``from ... import f`` binds a second
reference that patching the defining module would miss).  Spans are held
in memory and written out once, at the end of the run.

Spans around lazy operator calls only cover plan construction, so their
metrics are named ``*.plan_s``; execution shows up inside the
``CacheManager.dump`` span of the step (``cache.step_s.<table>``) or at
the collecting call.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory span recorder: name, start, end, parent, trace id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self.trace_id: str | None = None
        self._stack: list[int] = []

    def begin(self, trace_id: str) -> None:
        self.trace_id = trace_id
        self.counters = {}

    def count(self, name: str, value: float = 1) -> None:
        self.counters[name] = self.counters.get(name, 0) + value

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "trace": self.trace_id,
            "parent": self.spans[self._stack[-1]]["id"] if self._stack else None,
            "id": idx,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, trace_id: str, prefix: str) -> dict[str, float]:
        """Summed span seconds by name for the spans of one trace whose name
        starts with ``prefix``; a span nested directly in another span of
        the same prefix (``by_neuron_class`` calling ``by_gid``) is left out
        so that a layer's time is not counted twice."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["trace"] != trace_id or not s["name"].startswith(prefix):
                continue
            if s["parent"] is not None and self.spans[s["parent"]]["name"].startswith(prefix):
                continue
            out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps({"spans": self.spans}, indent=0))


class Patcher:
    """Installs tracing wrappers; ``uninstall`` restores every original."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def _replace_everywhere(self, original, wrapper) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not name.startswith("blueetl_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._undo.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def _set(self, owner, attr: str, wrapper) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def timed(self, fn, span_name: str):
        """Wrapper: one span per call."""
        tr = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tr.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def counted(self, fn, prefix: str):
        """Wrapper for hot, recursive helpers: call count and microseconds of
        outermost calls only, no span."""
        tr = self.tracer
        inside = False

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            nonlocal inside
            if inside:
                return fn(*args, **kwargs)
            inside = True
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                inside = False
                tr.count(f"{prefix}_calls")
                tr.count(f"{prefix}_us", (time.perf_counter() - t0) * 1e6)

        return wrapper

    def install(self) -> None:
        from blueetl_spark import analysis
        from blueetl_spark.functions import qdsl
        from blueetl_spark.operators import extraction, features, windows
        from blueetl_spark.plans import cache

        tr = self.tracer
        for fn_name in ("compile_query", "is_subfilter"):
            fn = getattr(qdsl, fn_name)
            self._replace_everywhere(fn, self.counted(fn, f"qdsl.{fn_name.replace('_query', '')}"))
        for fn_name in ("extract_neurons", "extract_neuron_classes", "extract_report"):
            fn = getattr(extraction, fn_name)
            self._replace_everywhere(fn, self.timed(fn, f"extraction.plan.{fn_name}"))
        fn = windows.materialize_windows
        self._replace_everywhere(fn, self.timed(fn, "windows.materialize"))
        for fn_name in ("by_gid", "by_neuron_class", "histogram", "isi_stats",
                        "latency", "apply_feature", "apply_feature_multi"):
            fn = getattr(features, fn_name)
            self._replace_everywhere(fn, self.timed(fn, f"features.plan.{fn_name}"))

        cm = cache.CacheManager
        dump = cm.__dict__["dump"]

        @functools.wraps(dump)
        def traced_dump(self_, name, *args, **kwargs):
            with tr.span(f"cache.step.{name}"):
                dump(self_, name, *args, **kwargs)
            nbytes, nfiles = dir_usage(self_._data_path(name))
            tr.count("cache.bytes_written", nbytes)
            tr.count("cache.files_written", nfiles)

        fetch = cm.__dict__["fetch"]

        @functools.wraps(fetch)
        def traced_fetch(self_, *args, **kwargs):
            with tr.span("cache.fetch"):
                out = fetch(self_, *args, **kwargs)
            tr.count("cache.fetch_hits" if out is not None else "cache.fetch_misses")
            return out

        self._set(cm, "dump", traced_dump)
        self._set(cm, "fetch", traced_fetch)
        self._set(cm, "load", self.timed(cm.__dict__["load"], "cache.load"))
        cp = cache.CachedPipeline
        self._set(cp, "plan_invalidation",
                  self.timed(cp.__dict__["plan_invalidation"], "cache.plan_invalidation"))
        an = analysis.Analyzer
        self._set(an, "apply_filter", self.timed(an.__dict__["apply_filter"], "analysis.apply_filter"))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, val = self._undo.pop()
            setattr(owner, attr, val)


class JobCounter:
    """Spark jobs/stages/tasks per job group, read from the status tracker
    (kept by the driver even with the UI disabled)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.groups: dict[str, None] = {}  # every group set, in order

    def set_group(self, group: str) -> None:
        self.groups[group] = None
        self.sc.setJobGroup(group, group)

    def totals(self, groups: list[str]) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        deadline = time.monotonic() + 2.0
        while True:
            jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
            infos = [st.getJobInfo(j) for j in jobs]
            settled = all(i is not None and i.status != "RUNNING" for i in infos)
            if settled or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stages = [s for i in infos if i is not None for s in i.stageIds]
        tasks = 0
        for sid in stages:
            info = st.getStageInfo(sid)
            tasks += info.numTasks if info is not None else 0
        return len(jobs), len(stages), tasks


def dir_usage(path: Path) -> tuple[int, int]:
    """(bytes, part files) under a cache dataset or directory tree."""
    nbytes = nfiles = 0
    for root, _, files in os.walk(path):
        for f in files:
            nbytes += os.path.getsize(os.path.join(root, f))
            nfiles += f.startswith("part-")
    return nbytes, nfiles


def _children() -> dict[int, list[tuple[int, str]]]:
    """ppid -> [(pid, command name)] for every process."""
    kids: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        head, _, tail = stat.rpartition(")")
        comm = head.partition("(")[2]
        kids.setdefault(int(tail.split()[1]), []).append((int(entry), comm))
    return kids


def tree_pids(root_pid: int) -> list[int]:
    """A process and its Python descendants (the workers Spark forks).
    Other children are short-lived helpers; one caught between fork and
    exec still reports its parent's whole RSS."""
    kids = _children()
    todo, out = [root_pid], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(p for p, comm in kids.get(pid, []) if comm.startswith("python"))
    return out


def rss_kb(pids: list[int]) -> int:
    """Summed VmRSS of the processes still alive."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread sampling the RSS of a process tree (the driver JVM
    and the Python workers it forks); ``peak_mb`` is the highest sum seen
    since the last ``reset``.  Walking ``/proc`` for the tree takes about
    2 ms of the driver's interpreter, so the tree is walked once a second
    and only its members are read in between."""

    RESCAN = 10  # samples between walks of the tree

    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % self.RESCAN == 0:
                pids = tree_pids(self.root_pid)
            self.peak_kb = max(self.peak_kb, rss_kb(pids))
            n += 1
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak_kb = rss_kb(tree_pids(self.root_pid))

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
