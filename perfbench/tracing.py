"""Benchmark-side tracing: spans, streaming progress, job counts, memory.

Spans are recorded only from the benchmark's own files, around its calls
into the package, and are kept in memory until the run writes them out.
Every span has a name, wall-clock start and end (``time.time()``, so spans
line up with progress-event timestamps and the load generator's log), an
id and its parent's id. ``overhead_s`` accumulates the time the tracer
itself spends, on the calling threads.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.notes: list[str] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name, start, end, parent=None, **attrs):
        """Record a finished span; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        t = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, **attrs}
            )
        self.overhead_s += time.perf_counter() - t
        return sid

    @contextmanager
    def span(self, name, **attrs):
        """Time the block; nested ``span`` blocks on one thread become children."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        t = time.perf_counter()
        start = time.time()
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": None, "parent": parent, **attrs})
        stack.append(sid)
        self.overhead_s += time.perf_counter() - t
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            stack.pop()

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Total self time per span name, over the spans that start at or
        after ``since``: duration minus the part of the interval its
        children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] < since:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str, since: float = 0.0) -> float:
        """Summed duration of the spans called ``name`` that start at or after ``since``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name and s["start"] >= since)

    def dump(self, path: str, metrics: dict, **extra) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"notes": self.notes, "metrics": metrics, "self_time_s": self.self_times(), "spans": self.spans, **extra},
                f,
                indent=1,
            )


class ProgressLog(StreamingQueryListener):
    """Keeps every ``StreamingQueryProgress`` event as a dict."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        self.events.append(json.loads(event.progress.json))
        self.tracer.overhead_s += time.perf_counter() - t

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def progress_start(p: dict) -> float:
    """Epoch seconds of a progress event's trigger start."""
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


STATE_NOTE = (
    "The erroneous sink is the first action on the persisted micro-batch, so "
    "its span contains the stateful operator. Each such span gets a child "
    "'streaming.session_state.estimate' whose length is the batch's "
    "allUpdatesTimeMs + allRemovalsTimeMs (summed over tasks) divided by the "
    "number of state partitions that run at once, so the sink's self time "
    "excludes it."
)


def add_stream_spans(tracer: Tracer, main: list[dict], windows: list[dict], since: float) -> None:
    """One span per micro-batch from the progress events of the main and
    the window query; sink spans recorded after ``since`` become children
    of their batch (keyed by epoch id = batch id)."""
    batch = {}
    for query, events, name in (("main", main, "streaming.pipeline.batch"), ("windows", windows, "streaming.windows.batch")):
        for p in events:
            start = progress_start(p)
            end = start + p["durationMs"].get("triggerExecution", 0) / 1000
            batch[(query, p["batchId"])] = (tracer.add(name, start, end, batch=p["batchId"]), p)
    width = min(os.cpu_count() or 1, max([p["stateOperators"][0]["numShufflePartitions"] for p in main if p.get("stateOperators")] or [1]))
    for s in list(tracer.spans):
        if not s["name"].startswith("sink.") or s["start"] < since:
            continue
        query = "windows" if s["name"] == "sink.cancellations" else "main"
        parent, p = batch.get((query, s["epoch"]), (None, None))
        s["parent"] = parent
        if s["name"] == "sink.erroneous" and p is not None and p.get("stateOperators"):
            op = p["stateOperators"][0]
            est = (op["allUpdatesTimeMs"] + op["allRemovalsTimeMs"]) / 1000 / width
            tracer.add("streaming.session_state.estimate", s["start"], min(s["end"], s["start"] + est), parent=s["id"])
    tracer.notes.append(STATE_NOTE)


@contextmanager
def job_group(spark, tracer: Tracer, counts: dict, layer: str):
    """Count the Spark jobs a block starts, per layer, when tracing."""
    if not tracer.enabled:
        yield
        return
    sc = spark.sparkContext
    group = f"{layer}-{len(tracer.spans)}"
    sc.setJobGroup(group, layer)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        counts[layer] = counts.get(layer, 0) + len(sc.statusTracker().getJobIdsForGroup(group))


def _children(pid_map: dict[int, int], root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in pid_map.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _ppids() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants() -> list[int]:
    """Every process this one started, and theirs."""
    return _children(_ppids(), os.getpid())


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _resident_bytes(pid: int) -> int:
    """Proportional resident size: a page shared by n processes counts 1/n
    in each, so summing over a tree of forked Python workers counts every
    resident page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


_MAPPING = re.compile(rb"^([0-9a-f]+)-([0-9a-f]+) ", re.M)
_RSS = re.compile(rb"^Rss: +(\d+)", re.M)
_PSS = re.compile(rb"^Pss: +(\d+)", re.M)


def _resident_with_range(pid: int, heap: tuple[int, int] | None) -> tuple[int, int]:
    """Proportional resident size of ``pid``, and the resident bytes of its
    mappings inside ``heap`` (lo, hi), from one read of its smaps."""
    try:
        with open(f"/proc/{pid}/smaps", "rb") as f:
            data = f.read()
    except OSError:
        return 0, 0
    pss = sum(int(k) for k in _PSS.findall(data)) * 1024
    if heap is None:
        return pss, 0
    lo, hi = heap
    # every mapping has one header line and one Rss line, in this order
    inside = sum(
        int(rss)
        for (a, b), rss in zip(_MAPPING.findall(data), _RSS.findall(data))
        if int(a, 16) >= lo and int(b, 16) <= hi
    )
    return pss, inside * 1024


_HEAP_ADDRESS = re.compile(r"Heap address: 0x([0-9a-fA-F]+), size: (\d+) MB")
_PAUSE = re.compile(r"Pause (?:Young|Full)\b.* \d+[KMG]->(\d+)([KMG])\(")
_UNIT = {"K": 2**10, "M": 2**20, "G": 2**30}


class GcLog:
    """Follows the driver JVM's log (``-Xlog:gc=info,gc+heap+coops=debug``):
    the address range of its heap, and the largest heap in use after a young
    or full collection."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.heap: tuple[int, int] | None = None
        self.after_gc_max = 0
        self._pos = 0
        self._rest = ""

    def poll(self) -> None:
        try:
            with open(self.path) as f:
                f.seek(self._pos)
                text = f.read()
                self._pos = f.tell()
        except OSError:
            return
        *lines, self._rest = (self._rest + text).split("\n")
        for line in lines:
            m = _PAUSE.search(line)
            if m:
                self.after_gc_max = max(self.after_gc_max, int(m.group(1)) * _UNIT[m.group(2)])
            elif self.heap is None:
                m = _HEAP_ADDRESS.search(line)
                if m:
                    lo = int(m.group(1), 16)
                    self.heap = (lo, lo + int(m.group(2)) * 2**20)


class MemSampler(threading.Thread):
    """Peak memory of this process and its descendants (the driver JVM and
    its Python workers), sampled every ``interval`` seconds. Each process
    counts its proportional resident size (PSS).

    ``peak`` is the whole tree; ``peak_nonheap`` leaves out the pages in
    the driver JVM's heap (its address range comes from the GC log), whose
    resident size follows the collector's sizing decisions more than the
    program's data. Processes listed in ``exclude`` (and their children)
    are not counted."""

    def __init__(self, gc_log: str, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.gc = GcLog(gc_log)
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_nonheap = 0
        self.peak_heap = 0
        #: at ``peak_nonheap``: the JVM outside its heap, the other processes, and their count
        self.at_peak = (0, 0, 0)
        self._halt = threading.Event()

    def sample(self) -> None:
        self.gc.poll()
        pids = _ppids()
        excluded = set(self.exclude)  # one C-level copy: the set grows from the main thread
        skip = set(excluded)
        for p in excluded:
            skip.update(_children(pids, p))
        tree = [p for p in _children(pids, os.getpid()) if p not in skip]
        jvm = [p for p in tree if _comm(p) == "java"]
        jvm_rss = heap = 0
        for p in jvm:
            pss, inside = _resident_with_range(p, self.gc.heap)
            jvm_rss, heap = jvm_rss + pss, heap + inside
        others = [_resident_bytes(p) for p in tree if p not in jvm]
        total = _resident_bytes(os.getpid()) + jvm_rss + sum(others)
        self.peak = max(self.peak, total)
        self.peak_heap = max(self.peak_heap, heap)
        if total - heap > self.peak_nonheap:
            self.peak_nonheap, self.at_peak = total - heap, (jvm_rss - heap, sum(others), len(others))

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        if self.is_alive():
            self._halt.set()
            self.join(timeout=5)
            self.sample()
