"""Measurement taken from outside the program under test.

* `Tracer` records a span around each public call and tags the Spark
  jobs started inside it with a local property, so Spark's own event
  log attributes jobs, stages and task metrics to the span.
* `parse_event_log` reads that log after the SparkContext stops.
* `RssSampler` reads /proc for the peak resident memory of this
  process and every descendant (the JVM and its Python workers).
* `cpu_probe_ms` is the single-thread numpy drift probe of bench.py,
  and `cpu_jiffies` the host's CPU steal, both diagnostics.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict

SPAN_PROP = "perfbench.span"


class Tracer:
    """Spans keyed "pass<i>|<call>|<phase>". With `tag=False` only the
    wall times are kept and Spark is never touched."""

    def __init__(self, sc=None, tag: bool = False):
        self.sc = sc
        self.tag = tag
        self.spans: list[tuple[str, float, float]] = []

    def span(self, key: str):
        return _Span(self, key)

    def passes(self) -> list[int]:
        return sorted({int(k.split("|", 1)[0][len("pass"):]) for k, _, _ in self.spans})

    def seconds(self, pass_index: int, suffix: str = "") -> float:
        """Summed span time of one pass, optionally of one "<call>|<phase>"."""
        prefix = f"pass{pass_index}|{suffix}"
        return sum(t1 - t0 for k, t0, t1 in self.spans if k.startswith(prefix))


class _Span:
    def __init__(self, tracer: Tracer, key: str):
        self.tracer, self.key = tracer, key

    def __enter__(self):
        if self.tracer.tag:
            self.tracer.sc.setLocalProperty(SPAN_PROP, self.key)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        if self.tracer.tag:
            self.tracer.sc.setLocalProperty(SPAN_PROP, None)
        self.tracer.spans.append((self.key, self.t0, t1))
        return False


def parse_event_log(path: str) -> dict:
    """Per span: jobs, tasks, executor run seconds, GC seconds and
    shuffle-write bytes, from a finished Spark JSON event log."""
    stage_span: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0}
    )
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                key = (ev.get("Properties") or {}).get(SPAN_PROP)
                if key:
                    out[key]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_span.setdefault(sid, key)
            elif kind == "SparkListenerStageSubmitted":
                key = (ev.get("Properties") or {}).get(SPAN_PROP)
                if key:
                    stage_span[ev["Stage Info"]["Stage ID"]] = key
            elif kind == "SparkListenerTaskEnd":
                key = stage_span.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                rec = out[key]
                rec["tasks"] += 1
                rec["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                rec["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                rec["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return dict(out)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        kids[int(stat[stat.rindex(b")") + 2 :].split()[1])].append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids, todo, out = _children(), [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _proc_kb(pid: int, name: str, key: str) -> int:
    """The kB value of `key` in /proc/<pid>/<name>, 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/{name}", encoding="ascii") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as f:
            return f.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Peak resident memory of this process and its descendants, in MB.

    The JVM's part is its kernel-kept high-water mark (VmHWM), read when
    the block ends: exact, and free of a sampler that would walk the
    JVM's page tables while it runs. The Python processes (this driver
    and Spark's workers) are sampled every `period` seconds by summed
    Pss, so pages a forked worker shares with its parent count once."""

    def __init__(self, period: float = 0.25):
        self.period, self.py_peak_kb, self.jvm_kb, self.peak_mb = period, 0, 0, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pss = sum(_proc_kb(p, "smaps_rollup", "Pss:") for p in _tree(os.getpid()) if not _is_jvm(p))
        self.py_peak_kb = max(self.py_peak_kb, pss)

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        self.jvm_kb = sum(_proc_kb(p, "status", "VmHWM:") for p in _tree(os.getpid()) if _is_jvm(p))
        self.peak_mb = (self.py_peak_kb + self.jvm_kb) / 1024.0
        return False


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: on a virtual
    machine, steal is the time the host ran other guests on our CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_probe_ms() -> float:
    """bench.py's host drift probe: sort + hypot over 2M doubles on one
    thread, best of 3, in milliseconds."""
    import numpy as np

    a = np.random.default_rng(12345).random(2_000_000)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = np.sort(a)
        float(np.hypot(b[:-1], b[1:]).sum())
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best
