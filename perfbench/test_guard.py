"""The benchmark's own tests: the under-measurement guards and the trace
arithmetic.  Run with ``python3 -m pytest perfbench -q`` from the
repository root (the last two tests share one traced benchmark run,
~1.5 min).
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import DataFrame

from perfbench.trace import Tracer, UnderMeasurement, no_count, read_event_log

BENCH = Path(__file__).resolve().parent


def _count_calls(path: Path) -> list[int]:
    """Line numbers of `<expr>.count()` calls with no arguments (the
    DataFrame action; str.count and list.count take one)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [node.lineno for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "count" and not node.args and not node.keywords]


def test_no_count_call_in_benchmark_sources():
    offenders = {p.name: lines for p in sorted(BENCH.glob("*.py"))
                 if not p.name.startswith("test_") and (lines := _count_calls(p))}
    assert not offenders, f"DataFrame.count() on a benchmark path: {offenders}"


def test_count_guard_raises_for_benchmark_callers():
    original = DataFrame.count
    with no_count():
        with pytest.raises(UnderMeasurement):
            DataFrame.count(object())
    assert DataFrame.count is original


def test_count_guard_lets_engine_calls_through():
    sentinel = object()
    seen = []
    engine_call = compile("result = DataFrame.count(df)", "/engine/module.py", "exec")
    original = DataFrame.count
    try:
        DataFrame.count = lambda self: seen.append(self)
        with no_count():
            exec(engine_call, {"DataFrame": DataFrame, "df": sentinel})
    finally:
        DataFrame.count = original
    assert seen == [sentinel]


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group


def test_self_time_subtracts_child_coverage(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 5.0, 6.0, 10.0])
    monkeypatch.setattr("perfbench.trace.time.perf_counter", lambda: next(clock))
    sc = _FakeContext()
    tracer = Tracer(SimpleNamespace(sparkContext=sc), "r1", enabled=True)
    with tracer.span("parent", group="outer"):
        with tracer.span("child", group="inner"):     # 1.0 .. 3.0
            assert sc.props["spark.jobGroup.id"] == "inner"
        with tracer.span("child"):                    # 5.0 .. 6.0
            assert sc.props["spark.jobGroup.id"] == "outer"
        assert sc.props["spark.jobGroup.id"] == "outer"
    selfs = tracer.self_times()
    assert selfs["parent"] == pytest.approx(10.0 - 3.0)
    assert selfs["child"] == pytest.approx(3.0)
    assert sc.props["spark.jobGroup.id"] is None


def test_event_log_counters_by_job_group(tmp_path):
    scan = {"nodeName": "Scan parquet ", "children": [],
            "metrics": [{"name": "size of files read", "accumulatorId": 7}]}
    plan = {"nodeName": "MapInPandas", "children": [scan],
            "metrics": [{"name": "number of output rows", "accumulatorId": 8}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [5],
         "Properties": {"spark.jobGroup.id": "operators.drift", "spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5,
         "Task Info": {"Accumulables": [{"ID": 8, "Update": "40"}]},
         "Task Metrics": {"Executor Run Time": 250, "Memory Bytes Spilled": 3,
                          "Disk Bytes Spilled": 4,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 3, "accumUpdates": [[7, 6000]]},
    ]
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = read_event_log(log)["operators.drift"]
    assert g == {"jobs": 1, "tasks": 1, "executor_run_ms": 250, "bytes_written": 0,
                 "shuffle_bytes": 100, "spill_bytes": 7, "scan_file_bytes": 6000,
                 "python_rows": 40}


def _live_processes_of(checkout: Path) -> list[str]:
    """Live processes started by a benchmark run in `checkout`: the run sets
    TMPDIR under the checkout's cache, and every process it starts inherits
    it."""
    marker = f"TMPDIR={checkout / '.perfbench_cache' / 'tmp'}".encode()
    found = []
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            environ = (entry / "environ").read_bytes()
            stat = (entry / "stat").read_text()
        except OSError:
            continue
        if marker in environ.split(b"\0") and stat[stat.rindex(")") + 2] != "Z":
            found.append(f"{entry.name} {stat[stat.index('(') + 1:stat.rindex(')')]}")
    return found


@pytest.fixture(scope="module")
def traced_flagship_run(tmp_path_factory):
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", "tokens_flagship",
           "--seed", "3", "--seconds", "1", "--trace", "1"]
    # output goes to files, not pipes: reading pipes to their end would also
    # wait for any child that inherited them, hiding one left running
    logs = tmp_path_factory.mktemp("traced_run")
    with open(logs / "out", "w+") as out, open(logs / "err", "w+") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, text=True, cwd=BENCH.parent)
        try:
            returncode = proc.wait(timeout=600)
        finally:
            proc.kill()
        left = _live_processes_of(BENCH.parent)
        out.seek(0)
        err.seek(0)
        done = SimpleNamespace(returncode=returncode, stdout=out.read(), stderr=err.read())
    return done, left


def test_timed_token_run_reads_the_whole_table(traced_flagship_run):
    """A traced token run must list every file of the token table at least
    once per complete validation; less means the timed path stopped
    running a scan of the table.  The scan metric counts listed files, so
    this catches a missing scan, not a pruned one."""
    done, _ = traced_flagship_run
    assert done.returncode == 0, done.stderr[-2000:]
    result = json.loads(done.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["sources.scan_amplification"]["value"] >= 1.0


def test_run_leaves_no_process_behind(traced_flagship_run):
    """When the benchmark exits, its JVM, Python workers and multiprocessing
    helpers have ended too."""
    done, left = traced_flagship_run
    assert done.returncode == 0, done.stderr[-2000:]
    assert left == []
