"""Measurement helpers: spans, Spark event-log attribution, process RSS and
store file accounting.

Spans are recorded only here, around calls the benchmark makes into the
program's public functions. Each span carries its name, start, end, parent
and the run id; spans stay in memory until the run ends. While a span is
open its id is the Spark job group, so jobs and tasks in the event log can
be attributed to it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; it records nothing until ``enabled`` is set."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, span_id: int) -> str:
        return f"{self.run_id}/{span_id}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobGroup(self._group(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._group(self._stack[-1]), "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of ``obj.method``."""
        inner = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return inner(*args, **kwargs)

        setattr(obj, method, traced)

    # ---- queries over recorded spans ---------------------------------
    def _dur(self, s: dict) -> float:
        return s["end"] - s["start"]

    def total(self, name: str) -> float:
        return sum(self._dur(s) for s in self.spans if s["name"] == name)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus the time their direct children
        cover (children of one span never overlap: calls are sequential)."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        child = sum(self._dur(s) for s in self.spans if s["parent"] in ids)
        return self.total(name) - child

    def subtree_groups(self, name: str) -> set[str]:
        """Job groups of every ``name`` span and all spans below it."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        grew = True
        while grew:
            more = {s["id"] for s in self.spans if s["parent"] in ids} - ids
            ids |= more
            grew = bool(more)
        return {self._group(i) for i in ids}


def spark_stats(event_log_dir: str, groups: set[str]) -> dict[str, float]:
    """Jobs, tasks, shuffle-write bytes, spill bytes and task skew (max /
    median task time in the stage with the most task time) of the jobs
    run under ``groups``, read from the Spark event log."""
    stage_group: dict[int, str] = {}
    jobs = 0
    tasks: dict[int, list[float]] = {}
    shuffle = spill = 0
    paths = glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths) or glob.glob(os.path.join(event_log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g in groups:
                        jobs += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    shuffle += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    skew = 1.0
    if tasks:
        heaviest = max(tasks.values(), key=sum)
        med = statistics.median(heaviest)
        skew = max(heaviest) / med if med > 0 else 1.0
    return {
        "spark.jobs": jobs,
        "spark.tasks": sum(len(t) for t in tasks.values()),
        "spark.shuffle_write_bytes": shuffle,
        "spark.spill_bytes": spill,
        "spark.task_skew": skew,
    }


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the Spark
    JVM and its Python workers), sampled from /proc in a daemon thread.

    A process counts from the second sample that sees it on. The JVM starts
    commands with posix_spawn, whose child shares the JVM's memory until it
    execs; caught in that moment, its RSS would count the whole JVM twice.
    """

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_bytes = 0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while True:
            self.peak_bytes = max(self.peak_bytes, self._tree_pages() * page)
            if self._stop.wait(self.INTERVAL_S):
                return

    def _tree_pages(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # the command name may contain spaces; fields follow the last ')'
            ppid = int(stat[stat.rfind(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        tree, frontier = [], [os.getpid()]
        while frontier:
            tree.append(frontier.pop())
            frontier.extend(children.get(tree[-1], ()))
        pages = 0
        for pid in tree:
            if pid not in self._seen:
                continue
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except OSError:
                pass
        self._seen = set(tree)
        return pages


def file_state(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, bucket directories) of files new or changed between two
    :func:`file_state` snapshots; checksum side files are not data."""
    new = [p for p, v in after.items() if before.get(p) != v and not p.endswith(".crc")]
    buckets = {os.path.dirname(p) for p in new if "bucket=" in os.path.basename(os.path.dirname(p))}
    return sum(after[p][0] for p in new), len(buckets)


def tree_bytes(root: str) -> int:
    return sum(v[0] for p, v in file_state(root).items() if not p.endswith(".crc"))
