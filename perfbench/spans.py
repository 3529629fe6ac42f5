"""Tracing from outside the package: spans around the module-level functions
each layer crosses, interval arithmetic for self time and overlap, and the
Spark event-log reader that attributes stage metrics to spans.

Spans live in memory and are written out once, at the end of a run. While a
span is open, its id is set as the Spark local property ``perfbench.span``
of the calling thread, so every job it submits carries the id into the
event log."""

from __future__ import annotations

import importlib
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

SPAN_PROPERTY = "perfbench.span"
PKG = "solr_mapreduce_indexer_spark"

# (module, function, span name): the driver-side boundaries of each layer
BOUNDARIES = (
    ("session", "get_spark", "session.get_spark"),
    ("index.build", "build_index", "build.build_index"),
    ("index.build", "build_postings", "build.build_postings"),
    ("index.build", "write_term_stats", "build.write_term_stats"),
    ("index.build", "segment_metrics", "build.segment_metrics"),
    ("index.merge", "merge_level", "merge.merge_level"),
    ("index.merge", "compact_level", "merge.compact_level"),
    ("index.merge", "compact_final", "merge.compact_final"),
    ("index.merge", "resolve_duplicate_keys", "merge.resolve_duplicate_keys"),
    ("index.manifest", "write_checkpoint", "manifest.write_checkpoint"),
    ("index.manifest", "write_manifest", "manifest.write_manifest"),
    ("query.bm25", "_lookup_dfs", "bm25._lookup_dfs"),
    ("query.bm25", "run_queries", "bm25.run_queries"),
    ("streaming.ingest", "append_batch", "ingest.append_batch"),
    ("streaming.ingest", "finalize_stream_index", "ingest.finalize_stream_index"),
)


def _spark_context():
    from pyspark import SparkContext
    return SparkContext._active_spark_context


class Recorder:
    """Records spans (name, start, end, parent, run id) while ``enabled``."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple] = []

    def _stack(self) -> list[int]:
        """The open spans of the calling thread, innermost last."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        # a thread the package starts inside a span (term_stats ∥ merge)
        # begins with an empty stack: its spans hang off the span that was
        # open where the thread was started
        parent = stack[-1] if stack else getattr(
            threading.current_thread(), "_perfbench_parent", None)
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent,
                   "run": self.run_id, "thread": threading.get_ident(),
                   "start": time.time(), "end": None, **attrs}
            self.spans.append(rec)
        sc = _spark_context()
        prev = sc.getLocalProperty(SPAN_PROPERTY) if sc else None
        if sc:
            sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if sc:
                sc.setLocalProperty(SPAN_PROPERTY, prev)

    def patch_threads(self) -> None:
        """Make every thread started from now on remember the span open in
        the thread that starts it."""
        start = threading.Thread.start

        def start_in_span(thread, *a, **kw):
            stack = self._stack()
            thread._perfbench_parent = stack[-1] if stack else None
            return start(thread, *a, **kw)

        threading.Thread.start = start_in_span
        self._patched.append((threading.Thread, "start", start))

    def patch_boundaries(self) -> None:
        """Wrap every BOUNDARIES function, in its own module and in every
        package module that imported it by name; see patch_threads."""
        self.patch_threads()
        mods = [m for n, m in list(sys.modules.items())
                if n == PKG or n.startswith(PKG + ".")]
        for mod_name, fn_name, span_name in BOUNDARIES:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fn_name)
            wrapper = self._wrap(orig, span_name)
            for m in mods + [mod]:
                if getattr(m, fn_name, None) is orig:
                    setattr(m, fn_name, wrapper)
                    self._patched.append((m, fn_name, orig))

    def _wrap(self, orig, name: str):
        def wrapper(*a, **kw):
            # a checkpoint span carries its phase name: phase intervals end
            # at their checkpoint commit
            attrs = ({"phase": a[1]} if name == "manifest.write_checkpoint"
                     else {})
            with self.span(name, **attrs):
                return orig(*a, **kw)
        wrapper.__wrapped__ = orig
        return wrapper

    def unpatch(self) -> None:
        for m, fn_name, orig in reversed(self._patched):
            setattr(m, fn_name, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- interval arithmetic ------------------------------------------------------

def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(intervals) -> float:
    return sum(b - a for a, b in union(intervals))


def overlap(xs, ys) -> float:
    """Length of time covered by both interval sets."""
    total = 0.0
    for a, b in union(xs):
        for c, d in union(ys):
            total += max(0.0, min(b, d) - max(a, c))
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """Span length minus the part of it that its child spans cover."""
    lo, hi = span["start"], span["end"]
    kids = [(max(lo, s["start"]), min(hi, s["end"])) for s in spans
            if s["parent"] == span["id"]]
    return (hi - lo) - covered(kids)


# --- Spark event log ----------------------------------------------------------

_ACC = {"internal.metrics.executorRunTime": "task_time_ms",
        "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
        "internal.metrics.diskBytesSpilled": "spill_bytes"}


def read_event_log(log_dir: str) -> dict:
    """Jobs and completed stages from the (closed) event log in ``log_dir``.

    Returns {"jobs": {id: {span, start, end, stages}}, "stages": {id:
    {tasks, start, end, task_time_ms, shuffle_write_bytes, spill_bytes}}}.
    Times are epoch seconds."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                jobs[ev["Job ID"]] = {
                    "span": int(span) if span is not None else None,
                    "start": ev["Submission Time"] / 1000, "end": None,
                    "stages": list(ev.get("Stage IDs", []))}
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = {"tasks": info["Number of Tasks"],
                      "start": info.get("Submission Time", 0) / 1000,
                      "end": info.get("Completion Time", 0) / 1000,
                      "task_time_ms": 0, "shuffle_write_bytes": 0,
                      "spill_bytes": 0}
                for acc in info.get("Accumulables", []):
                    key = _ACC.get(acc.get("Name"))
                    if key:
                        st[key] += int(acc.get("Value", 0))
                stages[info["Stage ID"]] = st
    return {"jobs": jobs, "stages": stages}


def spark_totals(log: dict, span_ids: set[int] | None = None) -> dict:
    """Job/stage/task counts, task time and shuffle/spill bytes of the jobs
    whose span is in ``span_ids`` (all jobs when None). A stage belongs to
    the first job that ran it."""
    seen: set[int] = set()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_time_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    for _jid, job in sorted(log["jobs"].items()):
        if span_ids is not None and job["span"] not in span_ids:
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue  # skipped (reused shuffle output) or counted
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st["tasks"]
            out["task_time_s"] += st["task_time_ms"] / 1000
            out["shuffle_write_bytes"] += st["shuffle_write_bytes"]
            out["spill_bytes"] += st["spill_bytes"]
    return out
