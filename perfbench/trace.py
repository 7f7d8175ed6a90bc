"""Measurement instruments: the count() guard, spans, Spark job groups,
event-log counters, peak RSS and the host-contention stamp.

Spans are recorded only around calls the benchmark makes into the engine;
the engine itself is not instrumented.  Spark counters come from the
session's event log, attributed to the job group that was active when each
job was submitted.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

BENCH_DIR = str(Path(__file__).resolve().parent)


class UnderMeasurement(RuntimeError):
    """A timed path called DataFrame.count()."""


@contextmanager
def no_count():
    """Make DataFrame.count() raise when called from the benchmark's own
    files: count() lets Catalyst prune the work a timing should cover.
    Calls made inside the engine are its own business and pass through."""
    # imported here, not at the top, so that the host stamp's spawned
    # workers, which import this module, start without pyspark
    from pyspark.sql import DataFrame

    original = DataFrame.count

    def guarded(self, *args, **kwargs):
        if sys._getframe(1).f_code.co_filename.startswith(BENCH_DIR):
            raise UnderMeasurement(
                "DataFrame.count() on a timed path; force outputs with a noop "
                "sink and count with DataFrame.observe")
        return original(self, *args, **kwargs)

    DataFrame.count = guarded
    try:
        yield
    finally:
        DataFrame.count = original


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory spans; when enabled, each span may also tag the Spark jobs
    it submits with a job group."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        sid, self._next = self._next, self._next + 1
        parent = self._stack[-1] if self._stack else None
        previous = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is not None:
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", previous)
            self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of the
        span's interval its children cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for a, b in sorted(children[s.id]):
                a, b = max(a, cursor), min(b, s.end)
                if b > a:
                    covered += b - a
                    cursor = b
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)]


def _metrics(task: dict) -> dict:
    m = task.get("Task Metrics") or {}
    shuffle_w = m.get("Shuffle Write Metrics") or {}
    return {
        "tasks": 1,
        "executor_run_ms": m.get("Executor Run Time", 0),
        "bytes_written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_bytes": shuffle_w.get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
    }


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


# SQL plan metrics read per job group: (node name prefix, metric) -> counter.
# "size of files read" is the driver-side sum of the lengths of the files a
# scan node lists, not the bytes it reads: column pruning and row-group
# skipping leave it unchanged, so it counts scans of the table, not bytes.
# (Spark's task Input Metrics miss most parquet reads on this Spark version:
# a full scan of a 6 MB table reports 50 kB.)
_PLAN_METRICS = {
    ("Scan parquet", "size of files read"): "scan_file_bytes",
    ("MapInPandas", "number of output rows"): "python_rows",
}


def read_event_log(path: Path) -> dict[str, dict]:
    """Counters per job group: jobs, tasks, executor run time, output /
    shuffle / spill bytes, the file bytes parquet scans listed, and the
    rows mapInPandas nodes returned (one per document the python tier
    judged)."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    plan_accs: dict[int, dict[int, str]] = defaultdict(dict)  # execution -> acc id -> counter
    acc_values: dict[int, int] = defaultdict(int)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(int))
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "(none)"
                groups[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
                if "spark.sql.execution.id" in props:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"], "(none)")
                for k, v in _metrics(ev).items():
                    groups[group][k] += v
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    update = str(acc.get("Update", ""))  # SQL metrics arrive as strings
                    if update.lstrip("-").isdigit():
                        acc_values[acc["ID"]] += int(update)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    acc_values[acc_id] += value
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    for m in node.get("metrics", []):
                        for (prefix, metric), counter in _PLAN_METRICS.items():
                            if node.get("nodeName", "").startswith(prefix) and m.get("name") == metric:
                                plan_accs[ev["executionId"]][m["accumulatorId"]] = counter
    for exec_id, accs in plan_accs.items():
        group = exec_group.get(exec_id, "(none)")
        for acc_id, counter in accs.items():
            groups[group][counter] += acc_values.get(acc_id, 0)
    return {g: dict(v) for g, v in groups.items()}


def peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process plus its JVM child."""
    me = os.getpid()
    pids = [me]
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        if ppid == me and comm == "java":
            pids.append(int(entry))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="utf-8") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


BURN_ITERATIONS = 3_000_000


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x = (x * 31 + i) % 1_000_003
    return x


def host_stamp(procs: int) -> float:
    """Wall seconds for `procs` processes to each run a fixed pure-CPU loop;
    higher than on a quiet host means something else holds the cores."""
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        pool.map(_burn, [1] * procs)  # start every worker before timing
        t = time.perf_counter()
        pool.map(_burn, [BURN_ITERATIONS] * procs, chunksize=1)
        elapsed = time.perf_counter() - t
        pool.close()
        pool.join()
    return elapsed
