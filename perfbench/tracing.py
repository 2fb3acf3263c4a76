"""Spans recorded around the engine's public calls, from outside it.

A span has a name, start, end, parent and the thread it ran on. Spans
stay in memory and are written out as JSON when the run ends. Each
wrapper also sets the Spark job description and a ``perfbench.span``
local property in the calling thread, so the jobs a call submits - the
engine's commit-pool threads included - carry the span that caused
them, and the event-log rollup can charge task metrics to it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import itertools
import json
import os
import threading
import time

SPAN_PROP = "perfbench.span"
DESC_PROP = "spark.job.description"


class Tracer:
    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _parent(self) -> int | None:
        stack = self._stack()
        if stack:
            return stack[-1]
        # a pool thread's first span hangs under the main thread's
        # innermost open span (the engine call that started the pool)
        return self._main_stack[-1] if self._main_stack else None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, obj, method: str, name: str | None = None, label=None) -> None:
        """Replace ``obj.method`` on this instance with a traced wrapper.
        ``label(args, kwargs)`` may append a suffix such as the table."""
        orig = getattr(obj, method)
        base = name or method

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = base if label is None else f"{base}:{label(args, kwargs)}"
            with self.span(span_name):
                return orig(*args, **kwargs)

        setattr(obj, method, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> dict:
        t = self.tracer
        with t._lock:
            sid = next(t._ids)
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": t._parent(),
            "thread": threading.current_thread().name,
            "start": time.monotonic(),
            "end": None,
        }
        t._stack().append(sid)
        if t.sc is not None:
            self.prev = (t.sc.getLocalProperty(SPAN_PROP), t.sc.getLocalProperty(DESC_PROP))
            t.sc.setLocalProperty(SPAN_PROP, str(sid))
            t.sc.setLocalProperty(DESC_PROP, self.name)
        return self.rec

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.rec["end"] = time.monotonic()
        t._stack().pop()
        if t.sc is not None:
            t.sc.setLocalProperty(SPAN_PROP, self.prev[0])
            t.sc.setLocalProperty(DESC_PROP, self.prev[1])
        with t._lock:
            t.spans.append(self.rec)


def maybe_span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------
def duration(s: dict) -> float:
    return s["end"] - s["start"]


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it covered by the span's children."""
    kids = [
        (max(c["start"], span["start"]), min(c["end"], span["end"]))
        for c in spans
        if c["parent"] == span["id"]
    ]
    return duration(span) - union_length([k for k in kids if k[1] > k[0]])


def ancestors(span: dict, by_id: dict[int, dict]):
    p = span["parent"]
    while p is not None:
        yield by_id[p]
        p = by_id[p]["parent"]


# ---------------------------------------------------------------------------
# Spark event log rollup
# ---------------------------------------------------------------------------
_ROLLUP_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


def rollup_event_log(log_dir: str) -> dict[int, dict]:
    """Task metrics summed per span id, from the session's event log.
    Jobs without a span property (warm-up, untraced work) are skipped."""
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    stage_span: dict[int, int] = {}
    out: dict[int, dict] = {}

    def acc(sid: int) -> dict:
        return out.setdefault(sid, dict.fromkeys(_ROLLUP_KEYS, 0))

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROP)
                    if not sid:
                        continue
                    sid = int(sid)
                    acc(sid)["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerStageCompleted":
                    sid = stage_span.get(ev["Stage Info"]["Stage ID"])
                    if sid is not None:
                        acc(sid)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    a = acc(sid)
                    a["tasks"] += 1
                    a["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    a["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    a["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
    return out


def sum_rollups(rows) -> dict:
    total = dict.fromkeys(_ROLLUP_KEYS, 0)
    for r in rows:
        for k in _ROLLUP_KEYS:
            total[k] += r[k]
    return total


# ---------------------------------------------------------------------------
# extraction-kernel replay
# ---------------------------------------------------------------------------
KERNEL_LAYERS = {
    # span name -> function in atra_spark.functions.extract
    "decode_bytes": "decode_bytes",
    "extract_html": "extract_html",
    "canonicalize": "_canon",
    "detect_lang": "detect_lang",
    "sniff_format": "sniff_format",
}


def replay_kernel(pdf, tracer: Tracer | None = None) -> tuple[float, list]:
    """Run ``extract_pages_batch`` over one pandas batch in this process.
    With a tracer, the kernel's layer functions are wrapped for the
    duration of the call and restored afterwards."""
    from atra_spark.functions import extract as kernel

    saved = {}
    if tracer is not None:
        for span_name, fn in KERNEL_LAYERS.items():
            saved[fn] = getattr(kernel, fn)
            tracer.wrap(kernel, fn, name=f"extract.{span_name}")
    try:
        t0 = time.perf_counter()
        with maybe_span(tracer, "extract.batch"):
            out = list(kernel.extract_pages_batch(iter([pdf])))
        return time.perf_counter() - t0, out
    finally:
        for fn, orig in saved.items():
            setattr(kernel, fn, orig)
