"""Spans, Spark stage metrics and process-tree memory, all taken from
outside the program: the benchmark wraps its own calls into the
engine's public functions and reads the Spark UI's REST API.  Nothing
here runs in an untraced run except the statistics helpers.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from datetime import datetime, timezone


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quartile_spread(xs) -> float:
    """(q3 - q1) / median, the spread the acceptance rule uses; with
    fewer than two samples there is no spread to report."""
    if len(xs) < 2 or not median(xs):
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / median(xs)


class Tracer:
    """In-memory spans: name, start, end, parent and the iteration
    they belong to.  Written once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration = 0

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.t
        self.rec = {"id": len(t.spans), "name": self.name,
                    "parent": t._stack[-1] if t._stack else None,
                    "iteration": t.iteration, **self.attrs,
                    "wall_start": time.time(),
                    "start": time.perf_counter()}
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.rec["wall_end"] = time.time()
        self.rec["dur"] = self.rec["end"] - self.rec["start"]
        self.t._stack.pop()
        return False


class StageLog:
    """Completed Spark stages from the UI REST API (the UI is enabled
    only in the traced run).  ``since()`` returns the stages that
    completed after the previous call, so a span's stages are the
    ones read right after it ends."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.seen: set = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def since(self) -> list[dict]:
        # The listener bus is asynchronous: give it a moment to post
        # the stages of the job that just returned.
        time.sleep(0.3)
        new = []
        for st in self._get("/stages?status=complete"):
            key = (st["stageId"], st["attemptId"])
            if key not in self.seen:
                self.seen.add(key)
                new.append(st)
        return new

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med else 0.0


def within(stages: list[dict], span: dict) -> list[dict]:
    """The stages that completed inside a span, by the UI's clock."""
    def done(st):
        return datetime.strptime(
            st["completionTime"], "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
            tzinfo=timezone.utc).timestamp()

    return [st for st in stages if "completionTime" in st
            and span["wall_start"] <= done(st) <= span["wall_end"]]


def shuffle_mb(stages: list[dict]) -> float:
    return sum(st.get("shuffleWriteBytes", 0) for st in stages) / 2**20


def heaviest(stages: list[dict]) -> dict | None:
    return max(stages, key=lambda s: s["executorRunTime"], default=None)


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(st[st.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    JVM and its Python workers), sampled on a thread."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.period)

    def reset(self) -> None:
        self.peak = 0

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=10)
